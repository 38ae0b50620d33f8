"""Scan-hygiene audit: verify column pruning and filter pushdown reach
the parquet scans of every registered query.

For each query's executed plan, every parquet `FileScan`'s ReadSchema
width is compared against the source table's full width — a scan that
reads all columns of a wide table for a narrow projection means column
pruning failed (at 100 TB that is the difference between reading 2
columns and reading 11).

Flag (exit 1): a scan whose ReadSchema contains EVERY column of a
driver table wider than ``WIDE`` columns, in a query whose output
schema is narrower.  Gate-staged fixture scans never trip this — their
column sets are written by the query itself and don't cover a driver
table's full set.

Usage: python tools/pushdown_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import sys

WIDE = 6  # tables wider than this must never be fully scanned

# full column sets of the driver tables (from TESTDATA.md)
_TABLES = {
    "lineitem": {
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    },
    "orders": {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    },
    "events": {"event_id", "ts", "user_id", "event_type", "value", "props"},
}


def _scan_schemas(plan: str) -> list[str]:
    """ReadSchema struct bodies of every FileScan in the plan.

    The body is captured to end-of-line (not up to the first '>'): a
    nested type like ``map<string,string>`` contains '>' characters and
    a first-'>' regex would silently truncate the column list, letting
    full-width scans of tables with nested columns escape the audit.
    """
    out = []
    for m in re.finditer(r"ReadSchema: struct<(.*)$", plan, re.MULTILINE):
        body = m.group(1).rstrip()
        if body.endswith(">"):
            body = body[:-1]
        out.append(body)
    return out


def _top_level_fields(body: str) -> set[str]:
    """Column names from a struct body, splitting only on depth-0 commas
    so nested generics don't shear the list."""
    cols, depth, cur = set(), 0, []
    for ch in body:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            tok = "".join(cur).strip()
            if tok:
                cols.add(tok.split(":")[0].strip())
            cur = []
        else:
            cur.append(ch)
    tok = "".join(cur).strip()
    if tok:
        cols.add(tok.split(":")[0].strip())
    return cols


def audit_one(name: str, df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    flags = []
    out_cols = len(df.columns)
    for body in _scan_schemas(plan):
        cols = _top_level_fields(body)
        for tbl, full in _TABLES.items():
            if cols >= full and len(full) > WIDE and out_cols < len(full):
                flags.append(
                    f"{name}: scan reads ALL {len(full)} columns of "
                    f"{tbl} but outputs only {out_cols} — pruning failed"
                )
    return flags


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import _registry

    qs = _registry.entry().queries()
    names = _registry.select(sys.argv[2:], qs)
    from openseize_spark.session import get_spark

    spark = get_spark("pushdown-audit")
    flags = []
    n = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
        except Exception as exc:  # build errors surface in check_oracle
            print(f"skip  {name}: {type(exc).__name__}")
            continue
        f = audit_one(name, df)
        n += 1
        status = "FLAG" if f else "ok"
        print(f"{status:5s} {name}")
        flags.extend(f)
    print()
    if flags:
        for f in flags:
            print("  " + f)
        sys.exit(1)
    print(f"no full-width wide-table scans across {n} queries")


if __name__ == "__main__":
    main()

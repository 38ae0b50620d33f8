"""Oracle/engine column-type audit.

Round 4's only two red driver rows (`split_assign`, `multires_rollup`)
were bit-exact in values but red in the driver's hash because their
DuckDB oracles emitted HUGEINT (un-cast ``sum(BIGINT)`` -> int128) while
Spark emitted int64 — the driver's hasher serializes those differently
even when the digits match, and its schema check is name-based so
`schema_match` stayed true.  This tool makes that whole failure class
visible before the gate runs: for every registered query it compares the
DuckDB oracle's column types (via ``DESCRIBE``, no execution) against the
Spark DataFrame's schema, column by column, and flags any pair outside a
small equivalence map.  HUGEINT anywhere is an automatic flag.

Usage: python tools/type_audit.py [sf_dir] [query ...]
Exit 1 if any query has a flagged column.
"""

from __future__ import annotations

import re
import sys

# DuckDB type name -> acceptable Spark simpleString()s.  Anything not in
# this map (or mapped but mismatched) is flagged.  HUGEINT is deliberately
# absent: an int128 column must never appear in an oracle.
_EQUIV = {
    "BIGINT": {"bigint"},
    "INTEGER": {"int"},
    "SMALLINT": {"smallint"},
    "TINYINT": {"tinyint"},
    "UBIGINT": set(),  # unsigned 64-bit: no lossless Spark twin — flag
    "DOUBLE": {"double"},
    "FLOAT": {"float"},
    "REAL": {"float"},
    "VARCHAR": {"string"},
    "BOOLEAN": {"boolean"},
    "DATE": {"date"},
    "TIMESTAMP": {"timestamp_ntz", "timestamp"},
    "TIMESTAMP WITH TIME ZONE": {"timestamp"},
    "BLOB": {"binary"},
}


def _spark_type(dt) -> str:
    return dt.simpleString()


def _match(duck: str, spark: str) -> bool:
    duck = duck.upper()
    m = re.fullmatch(r"DECIMAL\((\d+),(\d+)\)", duck)
    if m:
        return spark == f"decimal({m.group(1)},{m.group(2)})"
    m = re.fullmatch(r"(.+)\[\]", duck)
    if m:
        inner = re.fullmatch(r"array<(.+)>", spark)
        return bool(inner) and _match(m.group(1), inner.group(1))
    return spark in _EQUIV.get(duck, set())


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import _registry

    entrymod = _registry.entry()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = _registry.select(sys.argv[2:], qs)
    from openseize_spark.session import get_spark

    spark = get_spark("type-audit")
    con = _registry.duckdb_views(sf_dir)
    flagged = []
    for name in names:
        if name not in oracles:
            print(f"ok*   {name}: rows-only, no oracle types to audit")
            continue
        try:
            rows = con.execute(f"DESCRIBE {oracles[name]}").fetchall()
            duck_types = {r[0]: r[1] for r in rows}
        except Exception as e:
            print(f"FLAG  {name}: DESCRIBE failed: {e}")
            flagged.append(name)
            continue
        try:
            sdf = qs[name](spark, sf_dir)
            spark_types = {f.name: _spark_type(f.dataType) for f in sdf.schema.fields}
        except Exception as e:
            print(f"FLAG  {name}: spark plan failed: {e}")
            flagged.append(name)
            continue
        problems = []
        if set(duck_types) != set(spark_types):
            problems.append(
                f"column sets differ: duckdb-only="
                f"{sorted(set(duck_types) - set(spark_types))} "
                f"spark-only={sorted(set(spark_types) - set(duck_types))}"
            )
        for col in sorted(set(duck_types) & set(spark_types)):
            if not _match(duck_types[col], spark_types[col]):
                problems.append(
                    f"{col}: duckdb={duck_types[col]} spark={spark_types[col]}"
                )
        if problems:
            print(f"FLAG  {name}: {'; '.join(problems)}")
            flagged.append(name)
        else:
            print(f"ok    {name}")

    print()
    if flagged:
        print(f"{len(flagged)} FLAGGED: {flagged}")
        sys.exit(1)
    print("all oracle/engine column types line up")


if __name__ == "__main__":
    main()

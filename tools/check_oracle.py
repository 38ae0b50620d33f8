"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and the matching ``oracle_sql()``
on DuckDB at sf0.01, compares row count, (sorted) column names, and an
order-insensitive value hash with float rounding.  Also reports the max
float deviation so near-misses are visible before the real gate runs.

Usage: python tools/check_oracle.py [sf_dir] [query ...]

``--dump`` (round 14, per the r13 verdict's sp_counting order): on any
value-hash mismatch, write the full sorted normalized line sets of
BOTH engines to ``/tmp/oracle_dump_<name>.{spark,duckdb}.txt`` and
print a per-cell diff (column name, spark cell, duckdb cell) for the
first mismatching rows — so a future hash-fail localizes to cells,
not just a digest.
"""

from __future__ import annotations

import hashlib
import math
import sys
import time


def norm_cell(x):
    if x is None:
        return "NULL"
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        if x == 0:
            return "0"
        # 12 significant digits: the driver's hash caught an upsample
        # summation-order divergence at the 12th digit that the previous
        # 6-sig-digit normalization masked, while driver-green queries
        # (fir/welch DFT replays) carry ~1-ulp (16th-digit) noise — so the
        # local replica normalizes between those two magnitudes
        return f"{x:.12g}"
    if isinstance(x, bool):
        return str(int(x))
    return str(x)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    args = sys.argv[1:]
    json_out = None
    dump = "--dump" in args
    if dump:
        args.remove("--dump")
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: --json requires an output path")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    import _registry

    entrymod = _registry.entry()
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = _registry.select(args[1:], qs)
    from openseize_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = _registry.duckdb_views(sf_dir)
    failures = []
    results = {}
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            results[name] = {"status": "fail", "err": f"spark: {e}"[:200]}
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if len(srows) == 0:
                print(f"WARN  {name}: zero rows")
            results[name] = {"status": "rows_only", "rows": len(srows)}
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            results[name] = {"status": "fail", "err": f"duckdb: {e}"[:200]}
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            hs = table_hash(srows, list(scols))
            ho = table_hash(orows, ocols)
            if hs != ho:
                problems.append("value-hash mismatch")
                # diagnose: max float deviation on sorted rows
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                key = lambda r, order: tuple(norm_cell(r[i]) for i in order)
                ss = sorted(srows, key=lambda r: key(r, order_s))
                oo = sorted(orows, key=lambda r: key(r, order_o))
                shown = 0
                cols_sorted = sorted(scols)
                for a, b in zip(ss, oo):
                    ra = [a[i] for i in order_s]
                    rb = [b[i] for i in order_o]
                    if key(a, order_s) != key(b, order_o) and shown < 3:
                        print(f"        spark : {ra}")
                        print(f"        duckdb: {rb}")
                        shown += 1
                if dump:
                    for side, rows_, order in (
                        ("spark", ss, order_s),
                        ("duckdb", oo, order_o),
                    ):
                        path = f"/tmp/oracle_dump_{name}.{side}.txt"
                        with open(path, "w") as f:
                            f.write("|".join(cols_sorted) + "\n")
                            for r in rows_:
                                f.write(
                                    "|".join(
                                        norm_cell(r[i]) for i in order
                                    )
                                    + "\n"
                                )
                        print(f"        dumped {path}")
                    # per-cell diff on the aligned sorted rows: name the
                    # column AND show the raw (pre-normalization) repr,
                    # so a rendering-vs-value divergence is
                    # distinguishable at a glance
                    ndiff = 0
                    for ri, (a, b) in enumerate(zip(ss, oo)):
                        for ci, (ia, ib) in enumerate(
                            zip(order_s, order_o)
                        ):
                            if norm_cell(a[ia]) != norm_cell(b[ib]):
                                ndiff += 1
                                if ndiff <= 20:
                                    print(
                                        f"        cell[{ri}].{cols_sorted[ci]}"
                                        f": spark={a[ia]!r} "
                                        f"duckdb={b[ib]!r}"
                                    )
                    print(f"        {ndiff} differing cells (aligned rows)")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures.append(name)
            results[name] = {"status": "fail", "err": "; ".join(problems)[:200]}
        else:
            print(f"ok    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {
                "status": "ok",
                "rows": len(srows),
                "hash": table_hash(srows, list(scols)),
            }

    if json_out:
        import json
        import subprocess

        head = subprocess.run(
            ["git", "-C", _registry.REPO, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
        ).stdout.strip()
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "git_head": head,
                    "n_ok": sum(
                        1 for r in results.values() if r["status"] == "ok"
                    ),
                    "n_rows_only": sum(
                        1 for r in results.values() if r["status"] == "rows_only"
                    ),
                    "n_fail": len(failures),
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()

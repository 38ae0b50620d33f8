"""Spark-side reduction-order probe: run each query under two different
``spark.sql.shuffle.partitions`` settings (32 — the session default —
and 7, a co-prime count that regroups every partial aggregate) and
require the sorted result sets to match CELL-FOR-CELL at the bit level.

This is the engine-side mirror of ``float_order_audit.py --probe``
(which varies DuckDB's thread count): a float aggregate whose value
depends on Spark's partial-aggregation grouping would flip here long
before it flips in the driver, while the integer-quantized discipline
queries are immune by construction.

Usage: python tools/shuffle_invariance_probe.py [sf_dir] [query ...]
Exit 1 on any divergence, or on an error in either session.
"""

from __future__ import annotations

import math
import sys


def norm(x):
    if x is None:
        return "NULL"
    if isinstance(x, float):
        if math.isnan(x):
            return "NaN"
        return x.hex()  # bit-level comparison
    return str(x)


def compare(name: str, a, b) -> tuple[str, bool]:
    """The report line for one query and whether it passed.  ``a`` and
    ``b`` are the sorted normalized rows of the 32- and 7-partition runs,
    or the error message (a str) a run raised: an error in either run is
    a failure, even when both runs raised the same one."""
    errors = [f"{parts} parts: {r}" for parts, r in ((32, a), (7, b)) if isinstance(r, str)]
    if errors:
        return f"ERROR {name}: {'; '.join(errors)}", False
    if a == b:
        return f"ok    {name} ({len(a)} rows bit-equal across 32/7 parts)", True
    diff = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
    return f"DIVERGES {name}: {diff} differing rows across 32/7 parts", False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import _registry
    from pyspark.sql import SparkSession

    q = _registry.entry().queries()
    names = _registry.select(sys.argv[2:], q, default=list(q)[:50], ordered=True)
    results: dict[int, dict] = {}
    for parts in (32, 7):
        # one session per partition setting, all queries inside it —
        # session startup dominates otherwise
        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", str(parts))
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "8g")
            .appName(f"shuffle-probe-{parts}")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
        runs = results[parts] = {}
        for name in names:
            try:
                df = q[name](spark, sf_dir)
                cols = sorted(df.columns)
                runs[name] = sorted(tuple(norm(r[c]) for c in cols) for r in df.collect())
            except Exception as ex:
                runs[name] = str(ex)[:120]
        spark.stop()

    bad = []
    for name in names:
        line, passed = compare(name, results[32][name], results[7][name])
        print(line)
        if not passed:
            bad.append(name)
    print(f"\n{len(bad)} diverging / {len(names)} probed")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Driver-replica probe: run queries on a VANILLA SparkSession and
compare value hashes against a LOCALCHECK_r*.json produced by
tools/check_oracle.py on the TUNED session.

Every other local check runs on ``openseize_spark.session.get_spark``
(AQE, shuffle=cores, UTC timezone, Arrow, codegen maxFields=256), but
the driver's correctness gate builds its own session with none of those
settings.  Any query whose VALUES depend on a tuned conf — session
timezone, shuffle partition count, codegen fallback, Arrow batch
shape — would pass every local gate and fail only in the driver.  This
probe closes that gap: a bare ``local[32]`` session (only the UI
disabled and driver memory raised, which affect no values) must
reproduce the tuned session's per-query hashes bit-for-bit.

Usage:
  python tools/vanilla_session_probe.py LOCALCHECK_r09.json [sf_dir] [query ...]

With no query list: probes the first 50 registered (the driver window).
Exit 1 on any divergence.
"""

from __future__ import annotations

import json
import sys


def main():
    args = sys.argv[1:]
    if not args:
        sys.exit(__doc__)
    ref_path = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.01"

    ref = json.load(open(ref_path))["queries"]

    import _registry
    from pyspark.sql import SparkSession

    from check_oracle import table_hash  # same normalization as the ref

    qs = _registry.entry().queries()
    names = _registry.select(args[2:], qs, default=list(qs)[:50], ordered=True)

    spark = (
        SparkSession.builder.appName("vanilla-probe")
        .master("local[32]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    diverged = []
    for name in names:
        if name not in ref:
            print(f"SKIP  {name}: no reference row in {ref_path}")
            continue
        want = ref[name]
        try:
            df = qs[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            cols = df.columns
        except Exception as e:
            print(f"FAIL  {name}: vanilla-session error: {e}")
            diverged.append(name)
            continue
        if want["status"] == "rows_only":
            ok = len(rows) == want["rows"]
            print(("ok*   " if ok else "FAIL  ") + f"{name}: rows {len(rows)} vs {want['rows']}")
            if not ok:
                diverged.append(name)
            continue
        h = table_hash(rows, list(cols))
        if len(rows) != want["rows"] or h != want["hash"]:
            print(
                f"FAIL  {name}: vanilla rows={len(rows)} hash={h[:12]} vs "
                f"tuned rows={want['rows']} hash={want['hash'][:12]}"
            )
            diverged.append(name)
        else:
            print(f"ok    {name} ({len(rows)} rows bit-equal to tuned session)")

    if diverged:
        print(f"\n{len(diverged)} diverging: {diverged}")
        sys.exit(1)
    print(f"\n0 diverging / {len(names)} probed on the vanilla session")


if __name__ == "__main__":
    main()

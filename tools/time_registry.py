"""Time registered queries end-to-end with the noop sink.

Runs each selected ``queries()`` entry in a ``get_spark`` session and
reports per query ``build_s`` (the builder call: plan building plus its
eager checkpoints and loop probes), ``action_s`` (the noop write), the
Spark ``jobs`` both launched and the classes Janino ``compiles``
meanwhile, then the slowest queries by ``build_s + action_s``.  With
``--warmup`` every selected query first runs once untimed, and the timed
pass follows in the same order: its ``compiles`` show whether the
generated-class cache holds the working set.  So

    python tools/time_registry.py /root/testdata/sf0.001 --warmup \
        dedup_clusters minhash_dedup_prod

is the steady driver-side build cost of the two dedup benchmark queries.

Usage: python tools/time_registry.py [sf_dir] [--warmup] [--top N]
                                     [query ...]
Writes JSON to /tmp/registry_times_<sfname>.json as well.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    args = sys.argv[1:]
    warmup = "--warmup" in args
    if warmup:
        args.remove("--warmup")
    top = 0
    if "--top" in args:
        i = args.index("--top")
        top = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"

    import _registry

    qs = _registry.entry().queries()
    names = _registry.select(args[1:], qs)
    from openseize_spark.session import get_spark

    spark = get_spark("time-registry")
    spark.range(10_000).selectExpr("sum(id)").collect()

    records: dict[str, dict] = {}
    for timed in ((False, True) if warmup else (True,)):
        for name in names:
            try:
                with _registry.job_group(spark, f"time: {name}") as rec:
                    t0 = time.perf_counter()
                    df = qs[name](spark, sf_dir)
                    t1 = time.perf_counter()
                    df.write.mode("overwrite").format("noop").save()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - report and continue
                if timed:
                    print(f"FAIL {name}: {e}", flush=True)
                rec = {"s": -1.0}
            else:
                rec.update(s=round(t2 - t0, 3), build_s=round(t1 - t0, 3), action_s=round(t2 - t1, 3))
            if timed:
                records[name] = rec
                cost = "".join(f"  {k}={rec[k]}" for k in ("build_s", "action_s", "jobs", "compiles") if k in rec)
                print(f"{rec['s']:8.3f}  {name}{cost}", flush=True)

    ranked = sorted(records.items(), key=lambda kv: -kv[1]["s"])
    print("\n=== slowest ===")
    for name, rec in ranked[: top or 30]:
        print(f"{rec['s']:8.3f}  {name}")
    print(f"total {sum(r['s'] for r in records.values() if r['s'] > 0):.1f}s "
          f"over {len(records)} queries")
    out = f"/tmp/registry_times_{os.path.basename(sf_dir.rstrip('/'))}.json"
    with open(out, "w") as f:
        json.dump(records, f, indent=1, sort_keys=True)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

"""SCALE_ITER: fixpoint-loop cost tracking for the iterative graph
queries (r11 verdict order #5).

For each iterative registration it runs the query at two scales
(default /root/testdata/sf0.1 and /tmp/sf1 — regenerate the latter
with ``tools/make_sfN.py /root/testdata/sf0.1 /tmp/sf1 10``) and
records:

- ``rounds``: the number of per-round loop-termination probes
  executed (each fixpoint loop calls exactly one ``DataFrame.count``
  per round, so this is the executed round count INCLUDING the final
  empty-frontier round).  The claim under test: rounds grow with
  graph DIAMETER, not data size — key-shifted 10x replication must
  not move them.
- ``jobs`` / ``stages``: Spark jobs and stages executed by the query
  (captured via a job group + status tracker).  Stage count is the
  shuffle-boundary count plus one result stage per job — the
  scheduling cost a fixpoint loop pays per round, and the quantity
  that would explode if per-round state ever re-inlined its prefix
  (the plan-doubling failure mode).
- ``sec`` / ``rows``: warmed one-shot wall time and result size.

Runs in a ``get_spark`` session, so its cores (and the job and stage
counts) follow ``SPARK_GRAFT_CPUS``.

Usage: python tools/scale_iter.py [--json OUT] [query ...]
"""

from __future__ import annotations

import json
import sys
import time

QUERIES = [
    "sssp_delta",
    "temporal_reach",
    "sp_counting",
    "pivot_scc",
    "ancestor_chain",
    "betweenness_contrib",
]
SCALES = ["/root/testdata/sf0.1", "/tmp/sf1"]


def run_one(spark, fn, name: str, sf: str) -> dict:
    import _registry

    # patch the LIVE DataFrame class (pyspark 4's classic instance
    # class, not the unified-API parent — patching the parent is a
    # silent no-op because the child overrides count)
    DataFrame = type(spark.range(1))
    orig_count = DataFrame.count
    probes = {"n": 0}

    def counting(self):
        probes["n"] += 1
        return orig_count(self)

    # warm the parquet/file-listing caches so sec is steady-state
    orig_count(fn(spark, sf))
    DataFrame.count = counting
    t0 = time.time()
    try:
        with _registry.job_group(spark, f"scale_iter_{name}_{sf.replace('/', '_')}") as cost:
            rows = orig_count(fn(spark, sf))
    finally:
        DataFrame.count = orig_count
    sec = time.time() - t0
    return {
        "query": name,
        "sf": sf,
        "rows": rows,
        "rounds": probes["n"],
        "jobs": cost["jobs"],
        "stages": cost["stages"],
        "sec": round(sec, 2),
    }


def main():
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]

    import _registry

    qs = _registry.entry().queries()
    names = _registry.select(args, qs, default=QUERIES, ordered=True)
    from openseize_spark.session import get_spark

    spark = get_spark("scale-iter")
    out = []
    for name in names:
        for sf in SCALES:
            r = run_one(spark, qs[name], name, sf)
            print(json.dumps(r), flush=True)
            out.append(r)
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()

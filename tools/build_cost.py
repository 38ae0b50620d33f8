"""Print the driver-side build cost of the two dedup benchmark queries.

Runs ``dedup_clusters`` and ``minhash_dedup_prod`` from the registry in
turn, three times each, on one documents table in a ``get_spark``
session, the way the ``corpus_dedup`` benchmark workload alternates
them.  Per run it reports ``build_s`` (the query call: plan building
plus its eager checkpoints), ``action_s`` (the final ``collect()``), the
Spark jobs both launched and the classes Janino compiled meanwhile.
Runs after the first show the steady cost: while the generated-class
cache holds the two queries' working set (~150 classes), ``compiles``
falls to ~0 after the first run; a smaller cache recompiles most of it
on every run.

Usage, from the repository root:
    python tools/build_cost.py <sf_dir> [runs]
where ``<sf_dir>`` holds ``documents.parquet``.  Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

QUERIES = ("dedup_clusters", "minhash_dedup_prod")


def main():
    if len(sys.argv) < 2:
        sys.exit("usage: build_cost.py <sf_dir> [runs]")
    sf_dir = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.realpath(__file__))))
    import __spark_entry__ as entry
    from openseize_spark.session import get_spark

    spark = get_spark("build-cost", extra_conf={"spark.ui.showConsoleProgress": "false"})
    sc = spark.sparkContext
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    qs = entry.queries()
    record = {
        "sf_dir": sf_dir,
        "master": sc.master,
        "codegen_cache_max_entries": sc.getConf().get("spark.sql.codegen.cache.maxEntries", "100"),
    }
    record.update({name: [] for name in QUERIES})
    for i in range(runs):
        for name in QUERIES:
            group = f"build-cost-{name}-{i}"
            compiled = metrics.METRIC_COMPILATION_TIME().getCount()
            sc.setJobGroup(group, group)
            try:
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
                df.collect()
                t2 = time.perf_counter()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            record[name].append(
                {
                    "build_s": round(t1 - t0, 3),
                    "action_s": round(t2 - t1, 3),
                    "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                    "compiles": metrics.METRIC_COMPILATION_TIME().getCount() - compiled,
                }
            )
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()

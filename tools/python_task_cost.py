"""Print the fixed cost of Python tasks in a ``get_spark`` session.

Times three trivial jobs after one untimed warm-up each: a JVM-only
``range().count()``, a 4-partition ``mapInPandas`` over 400 rows and a
4-partition ``rdd.map`` over the same rows.  The jobs do no real work, so
their times are Spark's per-job and per-task overhead; the gap between
the JVM-only job and the Python ones is what a Python task costs before
its kernel runs.  Also reports whether the workers run with the lazy
zip-cache shim of ``openseize_spark.worker_daemon``.

Usage, from the repository root: python tools/python_task_cost.py [reps]
Prints one JSON line.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

ROWS, PARTITIONS = 400, 4


def _shim_flags(batches):
    import zipimport

    import pandas as pd

    module = zipimport.zipimporter.invalidate_caches.__module__
    yield pd.DataFrame({"shim": [module == "openseize_spark.worker_daemon"]})


def _identity(batches):
    yield from batches


def main():
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    import _registry  # noqa: F401  (puts the repository on sys.path)
    from openseize_spark.session import get_spark

    spark = get_spark("python-task-cost", extra_conf={"spark.ui.showConsoleProgress": "false"})
    df = spark.range(ROWS).repartition(PARTITIONS).cache()
    df.count()
    rdd = df.rdd
    jobs = {
        "jvm_only": lambda: spark.range(ROWS, numPartitions=PARTITIONS).count(),
        "map_in_pandas": lambda: df.mapInPandas(_identity, df.schema).count(),
        "rdd_map": lambda: rdd.map(lambda r: r[0] + 1).count(),
    }
    record = {}
    for name, job in jobs.items():
        job()
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            job()
            times.append(time.perf_counter() - t0)
        record[f"{name}_median_s"] = round(statistics.median(times), 4)
        record[f"{name}_min_s"] = round(min(times), 4)
    flags = df.mapInPandas(_shim_flags, "shim boolean").collect()
    record.update(
        reps=reps,
        master=spark.sparkContext.master,
        python=sys.version.split()[0],
        shim_active=all(r.shim for r in flags),
    )
    print(json.dumps(record))
    spark.stop()


if __name__ == "__main__":
    main()

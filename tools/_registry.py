"""What the registry tools share: the repository root, the driver-contract
module, query-name selection, DuckDB views over the driver tables and a
per-query Spark cost counter.

A tool imports this module inside its ``main()`` (``import _registry``
finds it because Python puts a script's own directory first on
``sys.path``), so the tool stays importable by file path without it.
Importing it puts the repository root on ``sys.path``.
"""

from __future__ import annotations

import contextlib
import os
import sys
import uuid

# realpath: a symlinked tools/ must not point at another tree's registry
REPO = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def entry():
    """The driver-contract module (``queries()`` / ``oracle_sql()``)."""
    import __spark_entry__

    return __spark_entry__


def select(names, registered, default=None, ordered=False):
    """The names a tool runs, checked against ``registered`` before any
    Spark session or DuckDB connection is opened.

    An unknown name exits non-zero and lists every unknown name: a
    silent skip once masked an un-run window.  With no ``names`` the
    tool runs ``default`` (every registered name when None).  The names
    come back in registry order, or in the order given when ``ordered``.
    """
    unknown = sorted(set(names) - set(registered))
    if unknown:
        sys.exit(f"unknown query names (not in this tree's registry): {unknown}")
    if not names:
        return list(registered) if default is None else list(default)
    if ordered:
        return list(names)
    chosen = set(names)
    return [n for n in registered if n in chosen]


def duckdb_views(sf_dir: str, tables=None):
    """A DuckDB connection with one view per driver table of ``sf_dir``
    (``sources.tables.TABLES``, or ``tables``)."""
    import duckdb

    from openseize_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES if tables is None else tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


@contextlib.contextmanager
def job_group(spark, label: str):
    """Count the Spark jobs, stages and Janino compiles of the block.

    Yields a dict that holds ``jobs``, ``stages`` and ``compiles`` once
    the block exits.  Each block runs under a job group of its own, so a
    repeated label never counts an earlier block's jobs."""
    sc = spark.sparkContext
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    group = f"{label}-{uuid.uuid4().hex}"
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    cost: dict[str, int] = {}
    sc.setJobGroup(group, label)
    try:
        yield cost
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the listener bus: drain it so the
        # block's last job is counted
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(j) for j in jobs]
        cost["jobs"] = len(jobs)
        cost["stages"] = sum(len(i.stageIds) for i in infos if i is not None)
        cost["compiles"] = metrics.METRIC_COMPILATION_TIME().getCount() - compiled

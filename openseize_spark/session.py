"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set cluster-side: AQE on (runtime
partition coalescing + skew-join handling), shuffle partitions sized to
cores rather than the 200 default, Arrow enabled for the Pandas-UDF kernel
path, UTC session timezone so results compare bit-for-bit against the
DuckDB oracle.

Local masters also start Python workers from ``openseize_spark.worker_daemon``,
which stops every Python task re-reading ``pyspark.zip`` and the other zips
on the worker path (a fixed ~0.2 s per task on CPython < 3.13; see
ARCHITECTURE.md "Python task fixed cost").  Only local masters: there the
daemon inherits the driver's cwd and PYTHONPATH, so it can import this
package; on a cluster the package may arrive only through ``--py-files``,
after the daemon has started.

The codegen class cache holds 1000 generated classes instead of Spark's
100: the dedup queries alone need ~150, so at the default every run of
them recompiled most of their classes (see ARCHITECTURE.md "Driver-side
build cost").
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "openseize_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Respects ``SPARK_GRAFT_CPUS`` for local core count, else the cores this
    process may run on.  On a real cluster the master/resource settings come
    from spark-submit; everything set here is safe cluster-side too.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # MinHash signatures aggregate 64 universal-hash min() columns in
        # one pass; default maxFields=100 silently drops that stage out of
        # whole-stage codegen (interpreted row-at-a-time aggregation)
        .config("spark.sql.codegen.maxFields", "256")
        # generated-class cache (static conf): the default 100 entries
        # is below dedup_clusters + minhash_dedup_prod's ~150-class
        # working set, so each of their runs recompiled 60-90 classes
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
    )
    for k, v in {**worker_daemon_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def worker_daemon_conf(master: str) -> dict[str, str]:
    """Python worker daemon setting for ``master``: the lazy zip-cache
    daemon on a local master, Spark's own daemon elsewhere."""
    if master == "local" or master.startswith("local["):
        return {"spark.python.daemon.module": "openseize_spark.worker_daemon"}
    return {}


@contextmanager
def persisted(df):
    """Persist ``df`` for the body of a ``with`` block; release it on exit,
    also when the body raises.

    For iterative algorithms that re-join one stationary relation every
    round, repartitioned on the join key first (:func:`stationary`).  A
    persisted repartition node stays visible to the planner, so each
    round shuffles only the small evolving side; ``localCheckpoint``
    would hide the hash partitioning and every round would re-shuffle
    the whole relation (round 14: random_walks at sf1 117 s -> 40 s).
    The body must run the actions that read the cache (eager
    checkpoints, counts, collects): no cache outlives the call that made
    it.
    """
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist(blocking=False)


@contextmanager
def small_intermediate_coalesce(spark):
    """Scoped AQE tuning for iterative algorithms whose per-round
    intermediates shrink to hundreds of rows (pagerank, connected
    components): respect the advisory partition size instead of pinning
    coalesce at default parallelism, so each round's join/aggregate runs
    as 1-2 tasks instead of 32-64 near-empty ones.

    Scoped (not a session default) because the opposite trade-off holds
    for the compute-bound DSP kernels: their shuffles are small in BYTES
    but heavy in per-row compute, and advisory-size coalescing starves
    them of parallelism (measured +1.8 s on sosfilt_blocks_full at
    sf0.1 when set globally).  Callers must materialize the work they
    want covered (eager localCheckpoint / an action) inside the scope —
    Spark reads this conf at action time, not plan time.

    Concurrency constraint: the conf key is SESSION-global, so this
    scope assumes a serially-used SparkSession (true for the driver
    gate and bench).  Under concurrent queries on one shared session,
    another query whose action lands inside the scope inherits the
    advisory-size coalescing; a concurrent serving deployment should
    run iterative algorithms on a cloned session
    (``spark.newSession()``) so the conf flip stays isolated.
    """
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@contextmanager
def stationary(df, key):
    """The stationary relation of an iterative graph algorithm for the
    body of a ``with`` block: ``df`` hash-partitioned on ``key`` (the
    join key of every round) and held by :func:`persisted`, inside a
    :func:`small_intermediate_coalesce` scope for the rounds' small
    evolving state.  Each round then shuffles only that state; the body
    must run the actions that materialize the rounds."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    with (
        small_intermediate_coalesce(df.sparkSession),
        persisted(df.repartition(n_part, key)) as held,
    ):
        yield held

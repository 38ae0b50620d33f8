"""Structured Streaming analogs of the sliding-window estimators, and
the one driver that runs a bounded stream to completion.

reference mapping (SURVEY §2.10):
- welch/stft segmentation (nfft window, stride hop)
  -> ``window(ts, windowDuration, slideDuration)`` sliding windows;
- trailing-partial-segment drop -> emit only complete windows
  (watermark + append mode).
(The carried IIR state ``zi`` -> ``applyInPandasWithState`` mapping
lives in streaming/stateful.py.)

These run against a streaming source (rate / kafka / file).  The batch
operators in operators/ are the primary engine; this module proves the
same semantics stream, using a file/memory source for tests.
``drain_stream`` is the bounded-stream driver every fixture shares:
fixture-sized state partitioning -> memory sink -> start ->
processAllAvailable -> stop.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@contextmanager
def bounded_state_partitions(spark):
    """Scoped 4-shuffle-partition override for BOUNDED streaming
    fixtures.

    Every stateful streaming operator creates one state-store instance
    per shuffle partition per micro-batch, and each instance pays a
    commit (delta file write + snapshot bookkeeping) even when it holds
    a handful of keys.  On the gate's few-thousand-row fixtures that
    fixed cost dominates end-to-end latency — measured 9.3 s -> 2.7 s
    on the sf0.01 stream-stream interval join going 32 -> 4 partitions
    (and the driver's vanilla session defaults to 200, paying ~6x
    more).  Values are partition-count invariant: state is hash-
    partitioned by key, emitted rows identical.

    The partition count is a FIXTURE property, not cluster tuning: a
    production stream sizes state partitioning by state volume at
    deploy time, and none of these bounded-fixture harnesses are that
    path, so the count is a constant.  The conf key is
    session-global — scoped set/restore assumes a serially-used
    session, same contract as ``small_intermediate_coalesce``; the
    streaming query must START inside the scope (Spark pins the
    stream's shuffle partitioning at query start).
    """
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def streaming_windowed_stats(
    events: DataFrame,
    window_dur: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str = "event_type",
) -> DataFrame:
    """Sliding/tumbling windowed aggregation with late-data watermark —
    the streaming welch-segmentation analog: one row per complete window
    per key."""
    win = F.window(ts_col, window_dur, slide) if slide else F.window(ts_col, window_dur)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col(key_col))
        .agg(
            F.count("*").alias("n"),
            F.avg(value_col).alias("mean_v"),
            F.sum(F.col(value_col) * F.col(value_col)).alias("sum_v2"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            "n",
            "mean_v",
            "sum_v2",
        )
    )


def streaming_enrich(
    events: DataFrame,
    dim: DataFrame,
    join_expr,
    window_dur: str = "1 day",
    watermark: str = "0 seconds",
    ts_col: str = "ts",
    value_col: str = "value",
    group_col: str = "n_name",
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup — the dimension-
    lookup shape every streaming pipeline needs (enrich each event with
    reference data, then aggregate).

    The static side is broadcast: a stream-static equi join keeps **no
    state** — each micro-batch hash-joins against the (re-read) static
    relation, so the join adds no watermark/state-store cost and scales
    with the batch, not the stream history.  Only the downstream
    windowed aggregate is stateful.

    Returns one row per (window start, group) with count and value sum.
    """
    enriched = events.join(F.broadcast(dim), join_expr)
    return (
        enriched.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_dur).alias("win"), F.col(group_col))
        .agg(F.count("*").alias("n"), F.sum(value_col).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            group_col,
            "n",
            "sum_value",
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition —
    Spark's canonical two-stream correlation (views ⋈ clicks within a
    horizon).

    Both sides carry a watermark and the join condition bounds
    ``right_ts`` to ``[left_ts, left_ts + max_delay]``, so the state
    store evicts a buffered left row once the watermark passes
    ``left_ts + max_delay`` and a right row once it passes ``right_ts``
    — state stays proportional to (stream rate x horizon), never the
    stream history.  The join shuffles both sides on the equi key, the
    same partitioning a batch join would pick, so at 100 TB/day the
    cost is one bounded-state hash join per micro-batch.

    Returns the matched pairs (append semantics); callers aggregate
    downstream if they need rollups (Spark supports chained stateful
    operators in append mode).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, "inner")


def drain_stream(
    spark,
    out: DataFrame,
    qname: str,
    output_mode: str = "append",
    available_now: bool = False,
) -> DataFrame:
    """Run the bounded stream ``out`` to completion into the memory
    sink ``qname`` and return that table.

    Runs under ``bounded_state_partitions`` (the session/driver default
    of 32/200 partitions pays 8-50x the state-store commit cost these
    fixtures need; values are partition-count invariant).  The trigger
    is the caller's: ``available_now``, or the default trigger (the
    next micro-batch as soon as the previous one ends).  A failed
    micro-batch terminates the query and raises here; ``finally`` also
    stops it when the wait itself is interrupted.
    """
    with bounded_state_partitions(spark):
        w = (
            out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(qname)
        )
        if available_now:
            w = w.trigger(availableNow=True)
        sq = w.start()
        try:
            sq.processAllAvailable()
        finally:
            sq.stop()
    return spark.table(qname)


def run_batch_as_stream(
    spark, parquet_path: str, schema, transform, queryName="stream_out",
    output_mode: str = "complete",
):
    """Drive a batch parquet directory through a streaming query
    synchronously (memory sink, availableNow trigger) — the test
    harness for streaming parity.

    Default 'complete' mode flushes every window; 'append' emits only
    windows already past the watermark (trailing windows held back —
    the streaming analog of welch's trailing-partial-segment drop).
    """
    src = spark.readStream.schema(schema).parquet(parquet_path)
    return drain_stream(
        spark, transform(src), queryName, output_mode, available_now=True
    )

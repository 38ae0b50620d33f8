"""Streaming queries: each stages its input as file micro-batches,
runs one stateful operator and drains the result into a batch frame.
"""

from __future__ import annotations

from pyspark.sql import functions as F, SparkSession

from openseize_spark.dsp import design
from openseize_spark.llm import dedup, sampling
from openseize_spark.llm.sketch import _hll_alpha
from openseize_spark.operators import relational as rel
from openseize_spark.streaming.windows import drain_stream

from openseize_spark.registry import oracle_of, register
from openseize_spark.registry.common import (
    _event_ts, _events, _gate_tmp, _signal, _signal_sliced, _stage_batches, _t,
    FS, IIR_SLICE, sig,
)


def _events_stream_dir(spark: SparkSession, sf_dir: str, prefix: str):
    """Stage events.parquet as a file-stream source — file sources read
    a directory, so a gate directory holds a symlink to this sf_dir's
    events file — and return (directory, schema).  Pins the session tz
    to UTC for ``_event_ts``; leaves nanosAsLong as the session has it
    (the schema comes from the same session's static read)."""
    import os

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.realpath(f"{sf_dir}/events.parquet")
    d = _gate_tmp(spark, prefix + os.path.basename(os.path.dirname(src)))
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if os.path.islink(link) and os.readlink(link) != src:
        os.remove(link)
    if not os.path.exists(link):
        os.symlink(src, link)
    return d, spark.read.parquet(f"{sf_dir}/events.parquet").schema


def q_streaming_hour(spark, sf_dir):
    """Structured Streaming batch-equivalence (SURVEY §2.10): drive
    events.parquet through readStream -> watermarked tumbling-hour
    windowed agg -> memory sink, return the flushed table.  The
    oracle is the plain batch GROUP BY — a green row proves the
    streaming grid equals the batch grid."""
    from openseize_spark.streaming.windows import (
        run_batch_as_stream,
        streaming_windowed_stats,
    )

    d, schema = _events_stream_dir(spark, sf_dir, "stream_")

    def transform(src):
        return streaming_windowed_stats(
            _event_ts(src), window_dur="1 hour", watermark="0 seconds"
        )

    out = run_batch_as_stream(
        spark,
        d,
        schema,
        transform,
        queryName="gate_streaming_hour",
        output_mode="complete",
    )
    return out.select(
        "win_start",
        "event_type",
        "n",
        F.round("mean_v", 9).alias("mean_v"),
        F.round("sum_v2", 9).alias("sum_v2"),
    )


# streaming_hour: the batch GROUP BY the streaming pipeline must equal
register("streaming_hour", q_streaming_hour, """
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n,
               round(avg(value), 9) AS mean_v,
               round(sum(value * value), 9) AS sum_v2
        FROM events
        GROUP BY 1, 2""")


def q_streaming_sessionize(spark, sf_dir):
    """Native session_window streaming aggregation (SURVEY §2.10):
    per-user 30-minute-gap sessions over the events stream must
    produce the same per-user session counts as the batch lag-based
    sessionize oracle."""
    from openseize_spark.streaming.dedup import streaming_sessionize
    from openseize_spark.streaming.windows import run_batch_as_stream

    d, schema = _events_stream_dir(spark, sf_dir, "stream_")

    def transform(s_df):
        return streaming_sessionize(
            _event_ts(s_df),
            gap="30 minutes",
            watermark="0 seconds",
            key_col="user_id",
            value_col="value",
        )

    out = run_batch_as_stream(
        spark,
        d,
        schema,
        transform,
        queryName="gate_streaming_sessionize",
        output_mode="complete",
    )
    return out.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions")
    )


# streaming_sessionize: native session_window == batch lag-gap count
# (strict-vs-closed boundary at exactly gap never occurs on
# microsecond-random timestamps)
register("streaming_sessionize", q_streaming_sessionize, """
        WITH flagged AS (
          SELECT user_id,
                 CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) >= 1800.0 THEN 1 ELSE 0 END AS new_sess
          FROM events
        )
        SELECT user_id, CAST(sum(new_sess) + 1 AS BIGINT) AS n_sessions
        FROM flagged GROUP BY user_id""")


def q_streaming_enrich(spark, sf_dir):
    """Stream-static broadcast join + windowed rollup (streaming/
    windows.py streaming_enrich): events stream enriched with the
    nation dim (user_id % 25 -> nationkey), tumbling-day counts and
    value sums per nation.  The join is stateless per micro-batch;
    the oracle is the plain batch join + GROUP BY."""
    from openseize_spark.streaming.windows import (
        run_batch_as_stream,
        streaming_enrich,
    )

    d, schema = _events_stream_dir(spark, sf_dir, "stream_enrich_")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    def transform(s):
        e = _event_ts(s)
        return streaming_enrich(
            e,
            nation,
            e.user_id % 25 == nation.n_nationkey,
            window_dur="1 day",
            watermark="0 seconds",
        )

    out = run_batch_as_stream(
        spark,
        d,
        schema,
        transform,
        queryName="gate_streaming_enrich",
        output_mode="complete",
    )
    return out.select(
        "win_start",
        "n_name",
        "n",
        F.round("sum_value", 9).alias("sum_value"),
    )


register("streaming_enrich", q_streaming_enrich, """
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start, n_name,
               count(*) AS n,
               round(sum(value), 9) AS sum_value
        FROM events JOIN nation ON (user_id % 25) = n_nationkey
        GROUP BY 1, 2""")


def q_streaming_join(spark, sf_dir):
    """Stream-stream event-time interval join (streaming/windows.py
    streaming_interval_join): each user's view events matched to the
    same user's click events landing within the next hour, both
    streams watermarked so join state is evicted once event time
    passes the horizon.  Two independent file-stream sources over
    the same events directory; inner-join matches emit in append
    mode with no downstream stateful operator.  The oracle is the
    identical batch self-join."""
    from openseize_spark.streaming.windows import streaming_interval_join

    d, schema = _events_stream_dir(spark, sf_dir, "stream_join_")

    def side(kind: str, prefix: str):
        e = _event_ts(spark.readStream.schema(schema).parquet(d))
        return e.filter(F.col("event_type") == kind).select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("event_id").alias(f"{prefix}_id"),
            F.col("ts").alias(f"{prefix}_ts"),
        )

    joined = streaming_interval_join(
        side("view", "v"),
        side("click", "c"),
        left_key="v_user",
        right_key="c_user",
        left_ts="v_ts",
        right_ts="c_ts",
        max_delay="1 HOUR",
        watermark="1 hour",
    )
    out = joined.select(
        F.col("v_user").alias("user_id"),
        F.col("v_id").alias("view_id"),
        F.col("c_id").alias("click_id"),
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("gap_us"),
    )
    return drain_stream(
        spark, out, "gate_streaming_join", available_now=True
    )


register("streaming_join", q_streaming_join, """
        SELECT v.user_id AS user_id,
               v.event_id AS view_id,
               c.event_id AS click_id,
               epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
    """)


def q_streaming_sosfilt(spark, sf_dir):
    """Carried-zi streaming IIR (SURVEY §2.10; reference chunked
    state carry core/numerical.py:326-335): the sliced gate signal is
    staged as three sequential t-range parquet files, streamed with
    maxFilesPerTrigger=1 through applyInPandasWithState keyed on
    (recording_id, channel) with the flattened (nsections, 2) zi as
    GroupState (streaming/stateful.py:58), and flushed to a memory
    sink.  State carry across micro-batch boundaries is exact, so
    the stream must equal the batch sosfilt — the oracle is the same
    recursive-CTE replay the batch query uses."""
    from openseize_spark.streaming.stateful import streaming_sosfilt

    sosd = design.butter(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)
    sig = _signal_sliced(spark, sf_dir).df.select(
        "recording_id", "channel", "t", "v"
    )
    t, cuts = F.col("t"), (0, 700, 1500, IIR_SLICE)
    conds = [(t >= cuts[i]) & (t < cuts[i + 1]) for i in range(3)]
    stream = _stage_batches(spark, sf_dir, "sosfilt_", sig, conds)
    out = streaming_sosfilt(stream, sosd.sos)
    return drain_stream(spark, out, "gate_streaming_sosfilt").select(
        "channel", "t", "v"
    )


# streaming_sosfilt: exact zi carry across micro-batches means the
# stream equals the batch filter, whose recursive-CTE replay is
# already the sosfilt oracle
register("streaming_sosfilt", q_streaming_sosfilt, lambda: oracle_of("sosfilt"))


def _thirds(c, lo, span) -> list:
    """The three ``_stage_batches`` conditions that cut column ``c`` at
    ``lo + span`` and ``lo + 2 * span`` (the caller's arithmetic picks
    ``span``; the oracles replay it exactly)."""
    return [
        c < lo + span,
        (c >= lo + span) & (c < lo + 2 * span),
        c >= lo + 2 * span,
    ]


def q_streaming_cusum(spark, sf_dir):
    """Streaming CUSUM drift detection (streaming/stateful.py
    streaming_cusum): per-user integer-cent CUSUM with carried int64
    state across micro-batches — events staged as three sequential
    ts-range files, maxFilesPerTrigger=1.  All-integer recurrence,
    so the stream equals the batch replay exactly; the oracle is a
    recursive-CTE replay of the same recurrence."""
    from openseize_spark.streaming.stateful import streaming_cusum

    e = (
        _events(spark, sf_dir)
        .filter(
            F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
            # a NULL ts satisfies none of the range conditions below
            # and would be staged into no micro-batch — exclude it on
            # both engines so the oracle can't see rows the stream
            # never receives
            & F.col("ts").isNotNull()
        )
        .select("user_id", "event_id", "ts", "value")
    )
    lo, hi = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    conds = _thirds(F.col("ts"), lo, (hi - lo) / 3)
    stream = _stage_batches(spark, sf_dir, "cusum_", e, conds)
    out = streaming_cusum(
        stream, target_cents=10000, slack_cents=2000, h_cents=100000
    )
    return drain_stream(spark, out, "gate_streaming_cusum").select(
        "user_id", "event_id", "s", "alarm"
    )


register("streaming_cusum", q_streaming_cusum, """
        WITH RECURSIVE ev AS (
          SELECT user_id, event_id,
                 CAST(round(value * 100) AS BIGINT) AS v,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL
        ), r AS (
          SELECT user_id, event_id, rn,
                 greatest(CAST(0 AS BIGINT), v - 12000) AS s,
                 greatest(CAST(0 AS BIGINT), v - 12000) > 100000 AS alarm
          FROM ev WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.event_id, e.rn,
                 greatest(CAST(0 AS BIGINT),
                          (CASE WHEN r.alarm THEN 0 ELSE r.s END)
                          + e.v - 12000) AS s,
                 greatest(CAST(0 AS BIGINT),
                          (CASE WHEN r.alarm THEN 0 ELSE r.s END)
                          + e.v - 12000) > 100000 AS alarm
          FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
        )
        SELECT user_id, event_id, CAST(s AS BIGINT) AS s, alarm FROM r
    """)

_shll_h = sampling.salted_hash_sql("user_id", "hll")
_shll_alpha_lit = repr(_hll_alpha(32) * 32 * 32 * float(1 << 32))


def q_streaming_hll(spark, sf_dir):
    """Streaming HyperLogLog distinct-user registers per event type
    (streaming/stateful.streaming_hll) — the mergeable-sketch
    family on the streaming surface: bounded 2^5-register state
    per key, emitted as an exact-int64 summary after each of three
    sequential ts-range micro-batch files.  Batch cuts are pure integer
    microsecond arithmetic (span = (hi - lo) div 3) so the oracle
    replays them; per-key batch_idx counts the batches THE KEY
    appeared in (the oracle ranks its present prefixes).  The
    float estimate is computed HERE from the streamed integers —
    one multiply + one divide (+ the linear-counting ln branch),
    the hll_estimate expression shape."""
    from openseize_spark.llm.sketch import _hll_alpha
    from openseize_spark.streaming.stateful import streaming_hll

    b = 5
    m = 1 << b
    alpha = _hll_alpha(m)
    e = (
        _events(spark, sf_dir)
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type", "user_id", F.unix_micros("ts").alias("_us")
        )
    )
    lo, hi = e.agg(F.min("_us"), F.max("_us")).collect()[0]
    conds = _thirds(F.col("_us"), lo, (hi - lo) // 3)
    stream = _stage_batches(spark, sf_dir, "shll_", e, conds)
    out = streaming_hll(stream, b=b)
    res = drain_stream(spark, out, "gate_streaming_hll")
    raw = F.lit(alpha * m * m * float(1 << 32)) / F.col("sum_units")
    est = F.when(
        (F.col("n_empty") > 0) & (raw <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_empty")),
    ).otherwise(raw)
    return res.select(
        "event_type",
        "batch_idx",
        "npresent",
        "n_empty",
        "sum_units",
        F.round(est, 6).alias("est_distinct"),
    )


register("streaming_hll", q_streaming_hll, lambda: f"""
        WITH e AS (
          SELECT event_type, user_id, epoch_us(ts) AS us
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL
        ), bounds AS (
          SELECT min(us) AS lo, (max(us) - min(us)) // 3 AS span FROM e
        ), tagged AS (
          SELECT e.event_type, e.user_id,
                 CASE WHEN us < lo + span THEN 0
                      WHEN us < lo + 2 * span THEN 1
                      ELSE 2 END AS gb
          FROM e CROSS JOIN bounds
        ), present AS (
          SELECT event_type, gb,
                 CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY gb
                 ) - 1 AS BIGINT) AS batch_idx
          FROM (SELECT DISTINCT event_type, gb FROM tagged)
        ), hx AS (
          SELECT event_type, gb,
                 {_shll_h} // {1 << 27} AS bucket,
                 {_shll_h} % {1 << 27} AS rest
          FROM tagged
        ), regs AS (
          SELECT p.event_type, p.batch_idx, hx.bucket,
                 CAST(max(CASE WHEN rest = 0 THEN 28
                               ELSE 28 - length(bin(rest)) END)
                      AS BIGINT) AS m_j
          FROM present p
          JOIN hx ON hx.event_type = p.event_type AND hx.gb <= p.gb
          GROUP BY p.event_type, p.batch_idx, hx.bucket
        ), agg AS (
          SELECT event_type, batch_idx,
                 CAST(count(*) AS BIGINT) AS npresent,
                 CAST(sum(CAST(pow(2.0, 32 - m_j) AS BIGINT)) AS BIGINT)
                   AS sp
          FROM regs GROUP BY event_type, batch_idx
        ), one AS (
          SELECT event_type, batch_idx, npresent,
                 CAST(32 - npresent AS BIGINT) AS n_empty,
                 CAST(sp + (32 - npresent) * (1::BIGINT << 32) AS BIGINT)
                   AS sum_units
          FROM agg
        )
        SELECT event_type, batch_idx, npresent, n_empty, sum_units,
               round(CASE WHEN n_empty > 0
                          AND {_shll_alpha_lit} / sum_units <= 80.0
                     THEN 32.0 * ln(32.0 / n_empty)
                     ELSE {_shll_alpha_lit} / sum_units
                     END, 6) AS est_distinct
        FROM one""")


def q_streaming_policies(spark, sf_dir):
    """Drop-partial vs pad-to-complete (SURVEY §2.10): the reference
    welch drops a trailing partial segment while stft 'padded'
    zero-fills it; the streaming analog derives BOTH policies from
    ONE sliding-window aggregation as count filters — cnt == nfft is
    the drop policy, cnt > nfft - stride keeps the zero-padded tail
    (zero padding is a no-op for sums).  The gate signal (dyadic v,
    so window sums are engine-exact) is timestamped at fs=100
    (10 ms/sample), streamed through a watermarked 640 ms / 320 ms
    sliding count+sum, and returned as the padded-policy window set
    with an is_complete flag; the oracle replays the overlapping
    segmentation by exploding each sample into its two windows."""
    import os
    import shutil
    import tempfile

    sig = rel.slice_time(_signal(spark, sf_dir), start=0, stop=2000).df.select(
        "recording_id", "channel", "t", "v"
    )
    d = _gate_tmp(
        spark, "pol_" + os.path.basename(os.path.normpath(sf_dir))
    )
    shutil.rmtree(d, ignore_errors=True)
    sig.write.parquet(d)

    from openseize_spark.streaming.windows import run_batch_as_stream

    def transform(src):
        e = src.withColumn("ts", F.timestamp_micros(F.col("t") * 10_000))
        return (
            e.withWatermark("ts", "10 seconds")
            .groupBy(
                F.window("ts", "640 milliseconds", "320 milliseconds").alias(
                    "win"
                ),
                "channel",
            )
            .agg(
                F.count("*").alias("cnt"),
                F.sum("v").alias("seg_sum"),
            )
        )

    out = run_batch_as_stream(
        spark,
        d,
        sig.schema,
        transform,
        queryName="gate_streaming_policies",
        output_mode="complete",
    )
    stride_us = 320_000
    return (
        out.withColumn(
            "seg",
            (F.unix_micros(F.col("win.start")) / stride_us).cast("bigint"),
        )
        .filter(F.col("cnt") > 32)
        .select(
            "channel",
            "seg",
            "cnt",
            "seg_sum",
            (F.col("cnt") == 64).alias("is_complete"),
        )
    )


register("streaming_policies", q_streaming_policies, lambda: sig + """
        , sl AS (
          SELECT channel, t, v FROM signal WHERE t < 2000
        ), exploded AS (
          SELECT channel, v, u.k
          FROM sl, unnest([t // 32, t // 32 - 1]) AS u(k)
          WHERE u.k >= 0
        )
        SELECT channel, CAST(k AS BIGINT) AS seg,
               count(*) AS cnt, sum(v) AS seg_sum,
               count(*) = 64 AS is_complete
        FROM exploded
        GROUP BY channel, k
        HAVING count(*) > 32""")


def q_streaming_dedup(spark, sf_dir):
    """Streaming exact dedup (streaming/dedup.py:21):
    dropDuplicatesWithinWatermark over the batch operator's
    normalized-text md5 fingerprint, state bounded by the watermark
    horizon.  Documents get a synthetic event time (1 s per doc_id)
    and stream through the dedup; the result projects ONLY the
    fingerprint — which duplicate row survives is batch-order
    dependent, but the distinct fingerprint set is deterministic and
    equals the batch SELECT DISTINCT."""
    import os
    import shutil
    import tempfile

    from openseize_spark.streaming.dedup import streaming_exact_dedup

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # one day past the epoch: a ts equal to the initial watermark
    # value (epoch 0) is classified late and silently dropped
    staged = docs.select(
        "doc_id",
        "text",
        F.timestamp_micros((F.col("doc_id") + 86_400) * 1_000_000).alias(
            "ts"
        ),
    )
    d = _gate_tmp(
        spark, "dedup_" + os.path.basename(os.path.normpath(sf_dir))
    )
    shutil.rmtree(d, ignore_errors=True)
    staged.write.parquet(d)

    stream = spark.readStream.schema(staged.schema).parquet(d)
    out = streaming_exact_dedup(stream, watermark="30 days")
    return drain_stream(spark, out, "gate_streaming_dedup").select(
        F.md5(dedup.normalize_text(F.col("text"))).alias("fp")
    )


# streaming_policies: replay the 64/32 sliding segmentation by
# exploding each sample into its two covering windows; v is dyadic so
# seg_sum is engine-exact; cnt > 32 is the padded policy, cnt = 64
# flags the drop policy
# streaming_dedup: the surviving-row choice is nondeterministic but
# the distinct fingerprint set is not
register("streaming_dedup", q_streaming_dedup, lambda: fr"""
        SELECT DISTINCT
               md5({dedup.normalize_text_sql()}) AS fp
        FROM documents WHERE text IS NOT NULL""")


def q_streaming_upsert(spark, sf_dir):
    """foreachBatch MERGE-shape upsert (streaming/sinks.py): the
    event stream arrives as 4 micro-batches (maxFilesPerTrigger=1
    over a 4-file staged copy) and each batch's per-user aggregate
    merges into a parquet target by full-outer join + atomic swap —
    the streaming complement of the batch cdc_apply.  The merge
    functions are commutative/associative (max, sum), so the final
    target must equal the one-shot batch GROUP BY regardless of
    batch boundaries — which is exactly what the oracle checks."""
    import os

    from openseize_spark.streaming import sinks

    tag = os.path.basename(os.path.normpath(sf_dir))
    e = _events(spark, sf_dir)
    src = _gate_tmp(spark, f"upsert_src_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        e.repartition(4, F.col("user_id")).write.mode("overwrite").parquet(
            src
        )
    tgt = _gate_tmp(spark, f"upsert_tgt_{tag}")
    out = sinks.upsert_user_state(
        spark, src, e.schema, tgt, query_name=f"gate_upsert_{tag}"
    )
    return out.select(
        "user_id",
        "last_seen",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("sum_value", 9).alias("sum_value"),
    )


register("streaming_upsert", q_streaming_upsert, """
        SELECT user_id, max(ts) AS last_seen,
               count(*) AS n_events,
               round(sum(value), 9) AS sum_value
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id""")

_rl_avail = (
    "least(CAST(5000000 AS BIGINT), r.tokens + (e.us - r.us) // 60)"
)


def q_streaming_rate_limit(spark, sf_dir):
    """Streaming token-bucket rate limiter (streaming/stateful.py
    streaming_rate_limit): per-user quota enforcement with carried
    int64 (tokens, last_seen) state across micro-batches — events
    staged as three sequential ts-range files,
    maxFilesPerTrigger=1, the streaming_cusum harness.  Refill is a
    floor division on non-negative microsecond gaps, so the stream
    equals the recursive-CTE replay bit-for-bit."""
    from openseize_spark.streaming.stateful import streaming_rate_limit

    e = (
        _events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_id", "ts")
    )
    lo, hi = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    conds = _thirds(F.col("ts"), lo, (hi - lo) / 3)
    stream = _stage_batches(spark, sf_dir, "ratelim_", e, conds)
    out = streaming_rate_limit(
        stream, capacity_tokens=5, us_per_microtoken=60
    )
    return drain_stream(spark, out, "gate_streaming_rate_limit").select(
        "user_id", "event_id", "tokens_after", "accepted"
    )


register("streaming_rate_limit", q_streaming_rate_limit, lambda: f"""
        WITH RECURSIVE ev AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ), r AS (
          SELECT user_id, event_id, rn, us,
                 CAST(4000000 AS BIGINT) AS tokens,
                 TRUE AS accepted
          FROM ev WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.event_id, e.rn, e.us,
                 CASE WHEN {_rl_avail} >= 1000000
                      THEN {_rl_avail} - 1000000
                      ELSE {_rl_avail} END AS tokens,
                 {_rl_avail} >= 1000000 AS accepted
          FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
        )
        SELECT user_id, event_id, CAST(tokens AS BIGINT) AS tokens_after,
               accepted
        FROM r""")


def q_streaming_asof(spark, sf_dir):
    """Streaming point-in-time feature enrichment (streaming/sinks
    .asof_enrich): purchases arrive as 4 micro-batches and each
    batch as-of joins (backward) against the STATIC click history —
    the feature-store correctness rule applied on the ingest path,
    and the 14th streaming surface.  Per-row enrichment carries no
    cross-row state, so the accumulated output is independent of
    batch boundaries; the oracle is the one-shot DuckDB ASOF LEFT
    JOIN rolled up per day."""
    import os

    from openseize_spark.streaming import sinks

    tag = os.path.basename(os.path.normpath(sf_dir))
    e = _events(spark, sf_dir)
    src = _gate_tmp(spark, f"asof_src_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        e.repartition(4, F.col("user_id")).write.mode(
            "overwrite"
        ).parquet(src)
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    tgt = _gate_tmp(spark, f"asof_tgt_{tag}")
    out = sinks.asof_enrich(
        spark, src, e.schema, clicks, tgt,
        query_name=f"gate_asof_{tag}",
    )
    return out.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_purchases"),
        F.count("lag_us").cast("bigint").alias("n_attributed"),
        F.sum("lag_us").cast("bigint").alias("sum_lag_us"),
    )


register("streaming_asof", q_streaming_asof, """
        WITH j AS (
          SELECT p.ts AS pts, c.ts AS cts
          FROM (SELECT * FROM events WHERE event_type = 'purchase') p
          ASOF LEFT JOIN
               (SELECT * FROM events WHERE event_type = 'click') c
            ON p.user_id = c.user_id AND p.ts >= c.ts
        )
        SELECT CAST(pts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(count(cts) AS BIGINT) AS n_attributed,
               CAST(sum(epoch_us(pts) - epoch_us(cts)) AS BIGINT)
                 AS sum_lag_us
        FROM j GROUP BY 1
    """)


def q_streaming_page_hinkley(spark, sf_dir):
    """Streaming Page-Hinkley drift detection per event type
    (streaming/stateful.streaming_page_hinkley) — the
    running-mean drift twin of streaming_cusum, carried
    (i, S, m, runmin) int64 state across three sequential
    ts-range micro-batch files: per-event excursion
    m − min(m) and the λ alarm, where each increment is the
    identical IEEE chain the batch page_hinkley query runs
    JVM-side (half-away rounding in the kernel), so
    stream == batch == SQL replay bit-for-bit."""
    from openseize_spark.streaming.stateful import (
        streaming_page_hinkley,
    )

    e = (
        _events(spark, sf_dir)
        .filter(
            F.col("value").isNotNull() & F.col("ts").isNotNull()
        )
        .select("event_type", "event_id", "ts", "value")
    )
    lo, hi = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    conds = _thirds(F.col("ts"), lo, (hi - lo) / 3)
    stream = _stage_batches(spark, sf_dir, "ph_", e, conds)
    out = streaming_page_hinkley(stream)
    return drain_stream(spark, out, "gate_streaming_ph").select(
        "event_type", "event_id", "exc_units", "alarm"
    )


register("streaming_page_hinkley", q_streaming_page_hinkley, """
        WITH base AS (
          SELECT event_type, event_id, ts,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        ), d AS (
          SELECT event_type, event_id, ts, c,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                 ) AS i,
                 sum(CAST(c AS HUGEINT)) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS s
          FROM base
        ), u AS (
          SELECT event_type, event_id, ts,
                 CAST(round(1e9 * (CAST(CAST(i AS HUGEINT) * c - s
                                        AS DOUBLE)
                                   / CAST(i AS DOUBLE)))
                      AS BIGINT) - 5000000000 AS u
          FROM d
        ), m AS (
          SELECT event_type, event_id,
                 mm - min(mm) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS exc
          FROM (
            SELECT event_type, event_id, ts,
                   sum(CAST(u AS HUGEINT)) OVER (
                     PARTITION BY event_type ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING
                   ) AS mm
            FROM u
          )
        )
        SELECT event_type, event_id,
               CAST(exc AS BIGINT) AS exc_units,
               exc > 1000000000000000 AS alarm
        FROM m
    """)


def q_streaming_topk(spark, sf_dir):
    """Streaming bottom-k/KMV sampler per event type
    (streaming/stateful.streaming_topk): keep the k=8 smallest
    portable salted-md5 priorities per key across micro-batches
    (keeping the k smallest hash priorities IS a deterministic
    uniform-without-replacement sample of the distinct stream —
    the KMV construction on the streaming surface), emitting the
    running snapshot after each of three sequential ts-range
    batch files.  The same ts-cut and present-prefix discipline
    as streaming_hll; the oracle ranks each present prefix with
    the identical (priority, event_id) order.  All integers; the
    python, Spark, and DuckDB md5 paths produce the same 32-bit
    priority by construction."""
    from openseize_spark.streaming.stateful import streaming_topk

    e = (
        _events(spark, sf_dir)
        .filter(
            F.col("event_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type", "event_id", F.unix_micros("ts").alias("_us")
        )
    )
    lo, hi = e.agg(F.min("_us"), F.max("_us")).collect()[0]
    conds = _thirds(F.col("_us"), lo, (hi - lo) // 3)
    stream = _stage_batches(spark, sf_dir, "stopk_", e, conds)
    out = streaming_topk(stream, k=8, seed="tk")
    return drain_stream(spark, out, "gate_streaming_topk").select(
        "event_type", "batch_idx", "rank", "event_id", "priority"
    )


register("streaming_topk", q_streaming_topk, lambda: f"""
        WITH e AS (
          SELECT event_type, event_id, epoch_us(ts) AS us
          FROM events
          WHERE event_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL
        ), bounds AS (
          SELECT min(us) AS lo, (max(us) - min(us)) // 3 AS span FROM e
        ), tagged AS (
          SELECT e.event_type, e.event_id,
                 {sampling.salted_hash_sql("e.event_id", "tk")}
                   AS priority,
                 CASE WHEN us < lo + span THEN 0
                      WHEN us < lo + 2 * span THEN 1
                      ELSE 2 END AS gb
          FROM e CROSS JOIN bounds
        ), present AS (
          SELECT event_type, gb,
                 CAST(row_number() OVER (
                   PARTITION BY event_type ORDER BY gb
                 ) - 1 AS BIGINT) AS batch_idx
          FROM (SELECT DISTINCT event_type, gb FROM tagged)
        ), ranked AS (
          SELECT p.event_type, p.batch_idx, t.event_id, t.priority,
                 CAST(row_number() OVER (
                   PARTITION BY p.event_type, p.batch_idx
                   ORDER BY t.priority, t.event_id
                 ) AS BIGINT) AS rank
          FROM present p
          JOIN tagged t ON t.event_type = p.event_type
                       AND t.gb <= p.gb
        )
        SELECT event_type, batch_idx, rank, event_id, priority
        FROM ranked WHERE rank <= 8
    """)

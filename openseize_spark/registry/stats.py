"""Statistical estimators and tests over ``events`` and the TPC-H
tables: moments, rank tests, survival, A/B, sketches and drift.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F, Window as W

from openseize_spark.llm import sampling, sketch

from openseize_spark.registry import register
from openseize_spark.registry.common import _events, _t


def q_value_trend(spark, sf_dir):
    """Grouped OLS trend (engine-native): slope/intercept of value
    vs time per event_type from the five closed-form moment sums.  Time
    is centered on the global minimum BEFORE the moments (otherwise
    epoch-scale t^2 sums cancel catastrophically and no rounding
    redeems them); the one-row minimum rides a broadcast cross
    join."""
    e = _events(spark, sf_dir)
    tmin = e.agg(F.min(F.col("ts").cast("double")).alias("_t0"))
    x = F.col("ts").cast("double") - F.col("_t0")
    m = (
        e.crossJoin(F.broadcast(tmin))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("sx"),
            F.sum("value").alias("sy"),
            F.sum(x * F.col("value")).alias("sxy"),
            F.sum(x * x).alias("sxx"),
        )
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.select(
        "event_type",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


register("value_trend", q_value_trend, """
        WITH t0 AS (
          SELECT min(CAST(epoch(ts) AS DOUBLE)) AS t0 FROM events
        ), m AS (
          SELECT event_type, count(*) AS n,
                 sum(CAST(epoch(ts) AS DOUBLE) - t0.t0) AS sx,
                 sum(value) AS sy,
                 sum((CAST(epoch(ts) AS DOUBLE) - t0.t0) * value) AS sxy,
                 sum((CAST(epoch(ts) AS DOUBLE) - t0.t0)
                     * (CAST(epoch(ts) AS DOUBLE) - t0.t0)) AS sxx
          FROM events CROSS JOIN t0
          GROUP BY event_type
        )
        SELECT event_type, n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                     6) AS intercept
        FROM m
    """)


def q_rolling_median(spark, sf_dir):
    """Exact rolling median (engine-native): interpolated percentile
    over an ordered 5-row window frame per user — the robust-smoother
    shape (approx sketches can't be oracled; the exact sort-based
    frame percentile can).  Ordering key extended with event_id so
    ties are deterministic."""
    e = _events(spark, sf_dir)
    return e.selectExpr(
        "event_id",
        "user_id",
        "round(percentile(value, 0.5) OVER ("
        "  PARTITION BY user_id ORDER BY ts, event_id"
        "  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW"
        "), 9) AS med5",
    )


register("rolling_median", q_rolling_median, """
        SELECT event_id, user_id,
               round(CAST(quantile_cont(value, 0.5) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
               ) AS DOUBLE), 9) AS med5
        FROM events
    """)


def q_value_histogram(spark, sf_dir):
    """Fixed-bin numeric histogram per event type — the standard
    first look at a metric's distribution.  One pass, one short-key
    shuffle on (event_type, bin); the bin id is floor(value/width),
    a single IEEE double divide+floor that lands identically on any
    engine, so no boundary value can change bins.  At 100 TB this is
    a pure map-side-combine aggregation — the reduce side sees at
    most n_types x n_bins rows."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    width = 25.0
    bin_id = F.least(
        F.floor(F.col("value") / width).cast("bigint"), F.lit(19)
    )
    return (
        e.groupBy("event_type", bin_id.alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .withColumn("bin_lo", F.col("bin") * width)
    )


register("value_histogram", q_value_histogram, """
        SELECT event_type,
               least(CAST(floor(value / 25.0) AS BIGINT), 19) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 6) AS sum_value,
               least(CAST(floor(value / 25.0) AS BIGINT), 19)
                 * CAST(25.0 AS DOUBLE) AS bin_lo
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, bin
    """)


def q_rolling_zscore(spark, sf_dir):
    """Windowed anomaly detection: each event's z-score against its
    user's trailing 10-event frame.  The moments come from integer
    sums (value carries 2 decimals, so round(value*100) is an exact
    int64 and sum/sum-of-squares are order-invariant); the float
    z-score then derives through one fixed IEEE expression chain,
    identical on any engine.  Frames shorter than 10 are skipped
    (their variance is noise).  The window partitions on user_id —
    millions of small partitions at scale, no global sort."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    v100 = F.round(F.col("value") * 100).cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        -9, 0
    )
    base = (
        e.withColumn("_v", v100)
        .withColumn("_n", F.count("*").over(w))
        .withColumn("_s1", F.sum("_v").over(w))
        .withColumn("_s2", F.sum(F.col("_v") * F.col("_v")).over(w))
        .filter(F.col("_n") == 10)
    )
    mean = F.col("_s1").cast("double") / F.lit(10.0)
    var = F.col("_s2").cast("double") / F.lit(10.0) - mean * mean
    z = (F.col("_v").cast("double") - mean) / F.sqrt(var)
    return base.filter(F.col("_s2") * 10 > F.col("_s1") * F.col("_s1")).select(
        "event_id",
        "user_id",
        F.round(z, 9).alias("z"),
        (F.round(z, 9) > 2.0).alias("is_spike"),
    )


register("rolling_zscore", q_rolling_zscore, """
        WITH f AS (
          SELECT event_id, user_id,
                 CAST(round(value * 100) AS BIGINT) AS v,
                 count(*) OVER w AS n,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w
                      AS BIGINT) AS s1,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)
                          * CAST(round(value * 100) AS BIGINT)) OVER w
                      AS BIGINT) AS s2
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id,
               round((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / 10.0)
                     / sqrt(CAST(s2 AS DOUBLE) / 10.0
                            - (CAST(s1 AS DOUBLE) / 10.0)
                              * (CAST(s1 AS DOUBLE) / 10.0)), 9) AS z,
               round((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / 10.0)
                     / sqrt(CAST(s2 AS DOUBLE) / 10.0
                            - (CAST(s1 AS DOUBLE) / 10.0)
                              * (CAST(s1 AS DOUBLE) / 10.0)), 9)
                 > CAST(2.0 AS DOUBLE) AS is_spike
        FROM f
        WHERE n = 10 AND s2 * 10 > s1 * s1
    """)


def q_winsorized_stats(spark, sf_dir):
    """Winsorized per-group statistics: document lengths clipped at
    the per-language [P10, P90] before averaging — the outlier-
    robust aggregate quality dashboards use.  The percentile pass
    aggregates per language (bounded rows, broadcast back); the
    clip is a pure codegen least/greatest; interpolated percentile
    parity with DuckDB's quantile_cont is already pinned by
    length_quantiles."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull()
    )
    cuts = docs.groupBy("lang").agg(
        F.percentile(F.col("n_chars"), F.lit(0.1)).alias("p10"),
        F.percentile(F.col("n_chars"), F.lit(0.9)).alias("p90"),
    )
    j = docs.join(F.broadcast(cuts), on="lang")
    clipped = F.least(
        F.greatest(F.col("n_chars").cast("double"), F.col("p10")),
        F.col("p90"),
    )
    return j.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg(clipped), 9).alias("winsorized_mean"),
        F.round(F.first("p10"), 9).alias("p10"),
        F.round(F.first("p90"), 9).alias("p90"),
    )


register("winsorized_stats", q_winsorized_stats, """
        WITH cuts AS (
          SELECT lang,
                 quantile_cont(n_chars, CAST(0.1 AS DOUBLE)) AS p10,
                 quantile_cont(n_chars, CAST(0.9 AS DOUBLE)) AS p90
          FROM documents WHERE n_chars IS NOT NULL GROUP BY lang
        )
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(avg(least(greatest(CAST(d.n_chars AS DOUBLE), c.p10),
                               c.p90)), 9) AS winsorized_mean,
               round(any_value(c.p10), 9) AS p10,
               round(any_value(c.p90), 9) AS p90
        FROM documents d JOIN cuts c ON d.lang = c.lang
        WHERE d.n_chars IS NOT NULL
        GROUP BY d.lang
    """)


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog cardinality estimate vs exact distinct
    (llm/sketch.py hll_estimate): 32 salted-md5 registers over
    events.user_id — a mergeable 2^b-row partial aggregate standing
    in for the full distinct shuffle at 100 TB.  Deterministic
    register placement makes the sketch itself gate-checkable
    (unlike approx_count_distinct's private hash); the one-row
    output carries the exact-int64 register sum beside the float
    estimate and its relative error."""
    from openseize_spark.llm import sketch

    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    return sketch.hll_estimate(e, "user_id", b=5, seed="hll6")


register("hll_distinct", q_hll_distinct, lambda: sketch.hll_estimate_oracle_sql(
    col="user_id",
    table="(SELECT * FROM events WHERE user_id IS NOT NULL)",
    b=5,
    seed="hll6",
))


def q_ewma_user_value(spark, sf_dir):
    """Per-user exponentially-weighted moving average of event
    values (alpha = 1/4, dyadic so the recursion constants are
    exact in both engines): the metrics-smoothing recursion, run as
    an ordered left fold over each user's history — the same
    deterministic-sequential-fold contract the IIR oracles use,
    replayed by DuckDB's list_reduce.  Bounded by the largest
    single-user history (the per-key analog of the signal
    operators' per-channel bound); one shuffle on user_id."""
    e = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    arr = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    vals = F.transform(arr, lambda s: s["value"])
    n = F.size(vals)
    ewma = F.when(n == 1, F.element_at(vals, 1)).otherwise(
        F.aggregate(
            F.slice(vals, F.lit(2), n - 1),
            F.element_at(vals, 1),
            lambda acc, x: F.lit(0.25) * x + F.lit(0.75) * acc,
        )
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(ewma, 9).alias("ewma"),
        )
    )


# list_reduce is the same sequential left fold (seed = first
# element) as the Spark aggregate over the (ts, event_id)-ordered
# value list; alpha = 1/4 is dyadic, so both recursions are
# bit-identical
register("ewma_user_value", q_ewma_user_value, """
        SELECT user_id,
               count(*) AS n_events,
               round(list_reduce(
                 CAST(list(value ORDER BY ts, event_id) AS DOUBLE[]),
                 (acc, x) -> 0.25 * x + 0.75 * acc), 9) AS ewma
        FROM events
        WHERE value IS NOT NULL AND user_id IS NOT NULL
        GROUP BY user_id""")


def q_hll_by_type(spark, sf_dir):
    """Per-group HyperLogLog (llm/sketch.py hll_estimate_by):
    distinct-user estimates for every event_type in ONE pass — the
    form the sketch earns its keep in at scale: the shuffle carries
    at most 2^b register rows per (group, partition) instead of the
    per-group distinct sets.  Exact counts ride alongside."""
    from openseize_spark.llm import sketch

    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    return sketch.hll_estimate_by(e, "user_id", ["event_type"], b=5, seed="hb6")


register("hll_by_type", q_hll_by_type, lambda: sketch.hll_estimate_by_oracle_sql(
    col="user_id",
    group_expr="event_type",
    table="(SELECT * FROM events WHERE user_id IS NOT NULL)",
    b=5,
    seed="hb6",
    alias="event_type",
))


def q_value_hour_corr(spark, sf_dir):
    """Pearson correlation between event value and hour-of-day per
    event type, computed from EXACT integer moments (value in 1e-2
    cents, hour 0-23): n, Sx, Sy, Sxy, Sxx, Syy accumulate as
    int64 — order-invariant — and the closed form divides once
    through IEEE sqrt.  The built-in corr() aggregates floats in
    partition order and cannot be oracle-matched; this is the
    same exact-moment discipline as value_trend's OLS."""
    e = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    x = F.round(F.col("value") * 100).cast("bigint")
    y = F.hour("ts").cast("bigint")
    m = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum(y * y).cast("bigint").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        "event_type", "n", F.round(num / den, 9).alias("corr_vh")
    )


register("value_hour_corr", q_value_hour_corr, """
        WITH m AS (
          SELECT event_type,
                 count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM (
            SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS x,
                   CAST(hour(ts) AS BIGINT) AS y
            FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
          ) GROUP BY event_type
        )
        SELECT event_type, n,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9)
                 AS corr_vh
        FROM m""")


def q_dow_type_chi2(spark, sf_dir):
    """Chi-square contingency cells for event_type x day-of-week:
    observed counts, expected = row_total * col_total / N, and the
    per-cell (o-e)^2/e contribution — emitted PER CELL (35 rows)
    rather than summed, so no order-dependent float total exists;
    marginals ride broadcast joins on the bounded key sets."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    # 35-row grid, four consumers (marginals, total, output);
    # checkpoint so the events scan + aggregate runs once
    cells = e.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("observed")).localCheckpoint(
        eager=False
    )
    rows = cells.groupBy("event_type").agg(
        F.sum("observed").cast("bigint").alias("_rt")
    )
    cols = cells.groupBy("dow").agg(
        F.sum("observed").cast("bigint").alias("_ct")
    )
    tot = cells.agg(F.sum("observed").cast("bigint").alias("_N"))
    exp = (
        F.col("_rt").cast("double")
        * F.col("_ct").cast("double")
        / F.col("_N").cast("double")
    )
    j = (
        cells.join(F.broadcast(rows), on="event_type")
        .join(F.broadcast(cols), on="dow")
        .crossJoin(F.broadcast(tot))
        .withColumn("expected", F.round(exp, 9))
    )
    contrib = (
        (F.col("observed").cast("double") - exp)
        * (F.col("observed").cast("double") - exp)
        / exp
    )
    return j.select(
        "event_type", "dow", "observed", "expected",
        F.round(contrib, 9).alias("chi2_contrib"),
    )


register("dow_type_chi2", q_dow_type_chi2, """
        WITH cells AS (
          SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                 count(*) AS observed
          FROM events WHERE user_id IS NOT NULL
          GROUP BY 1, 2
        ), rt AS (
          SELECT event_type, CAST(sum(observed) AS BIGINT) AS r
          FROM cells GROUP BY 1
        ), ct AS (
          SELECT dow, CAST(sum(observed) AS BIGINT) AS c
          FROM cells GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(observed) AS BIGINT) AS N FROM cells
        )
        SELECT cells.event_type, cells.dow, observed,
               round(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                     / CAST(N AS DOUBLE), 9) AS expected,
               round((CAST(observed AS DOUBLE)
                      - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                        / CAST(N AS DOUBLE))
                     * (CAST(observed AS DOUBLE)
                        - CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                          / CAST(N AS DOUBLE))
                     / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                        / CAST(N AS DOUBLE)), 9) AS chi2_contrib
        FROM cells
        JOIN rt USING (event_type)
        JOIN ct USING (dow)
        CROSS JOIN tot""")


def q_holt_forecast(spark, sf_dir):
    """Holt double-exponential smoothing per user (alpha = 1/4,
    beta = 1/8, both dyadic): the COUPLED level/trend recursion the
    single-state EWMA can't express, run as an ordered fold with a
    struct accumulator — level' = a*x + (1-a)*(level+trend),
    trend' = b*(level'-level) + (1-b)*trend, initialized level=x2,
    trend=x2-x1, recursing from the 3rd sample.  The oracle replays the identical recursion as a
    recursive CTE stepping all users in lockstep; identical IEEE
    expression trees keep both engines bit-equal.  Emits the final
    state and the 1-step forecast."""
    e = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    arr = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    vals = F.transform(arr, lambda s: s["value"])
    x1 = F.element_at(vals, 1)
    x2 = F.element_at(vals, 2)
    init = F.struct(
        x2.alias("level"), (x2 - x1).alias("trend")
    )
    def _step(acc, x):
        level2 = (
            F.lit(0.25) * x
            + F.lit(0.75) * (acc["level"] + acc["trend"])
        )
        return F.struct(
            level2.alias("level"),
            (
                F.lit(0.125) * (level2 - acc["level"])
                + F.lit(0.875) * acc["trend"]
            ).alias("trend"),
        )
    fin = F.aggregate(F.slice(vals, 3, F.size(vals) - 2), init, _step)
    return (
        e.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(fin["level"], 9).alias("level"),
            F.round(fin["trend"], 9).alias("trend"),
            F.round(fin["level"] + fin["trend"], 9).alias("forecast1"),
        )
        .filter(F.col("n_events") >= 2)
    )


register("holt_forecast", q_holt_forecast, """
        WITH RECURSIVE vpos AS (
          SELECT user_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS i,
                 value AS v
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        ), nn AS (
          SELECT user_id, max(i) AS n FROM vpos GROUP BY 1
        ), r AS (
          SELECT a.user_id, 2 AS i, b.v AS level, b.v - a.v AS trend
          FROM vpos a JOIN vpos b
            ON a.user_id = b.user_id AND a.i = 1 AND b.i = 2
          UNION ALL
          SELECT r.user_id, r.i + 1,
                 0.25 * p.v + 0.75 * (r.level + r.trend),
                 0.125 * ((0.25 * p.v + 0.75 * (r.level + r.trend))
                          - r.level)
                 + 0.875 * r.trend
          FROM r JOIN vpos p
            ON p.user_id = r.user_id AND p.i = r.i + 1
        )
        SELECT r.user_id,
               CAST(nn.n AS BIGINT) AS n_events,
               round(r.level, 9) AS level,
               round(r.trend, 9) AS trend,
               round(r.level + r.trend, 9) AS forecast1
        FROM r JOIN nn USING (user_id)
        WHERE r.i = nn.n AND nn.n >= 2""")


def q_benford_digits(spark, sf_dir):
    """Benford first-significant-digit audit over order totals —
    the classic fabricated-data screen: observed counts per leading
    digit vs the Benford expectation n*log10(1+1/d).  Counts are
    exact integers; the expectation multiplies one exact count by a
    log10 of a digit-constant literal (identical in both libms for
    these 9 values, guarded by the 9-digit round)."""
    o = _t(spark, sf_dir, "orders")
    d = F.substring(F.col("o_totalprice").cast("string"), 1, 1).cast("bigint")
    counts = (
        o.filter(F.col("o_totalprice") > 0)
        .groupBy(d.alias("digit"))
        .agg(F.count("*").cast("bigint").alias("observed"))
    )
    tot = counts.agg(F.sum("observed").alias("_n"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "expected",
            F.round(
                F.col("_n").cast("double")
                * F.log10(1 + 1 / F.col("digit").cast("double")),
                9,
            ),
        )
        .select("digit", "observed", "expected")
    )


register("benford_digits", q_benford_digits, """
        WITH counts AS (
          SELECT CAST(substr(CAST(o_totalprice AS VARCHAR), 1, 1) AS BIGINT)
                   AS digit,
                 count(*) AS observed
          FROM orders WHERE o_totalprice > 0
          GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(observed) AS BIGINT) AS n FROM counts
        )
        SELECT digit, observed,
               round(CAST(n AS DOUBLE)
                     * log10(1 + 1 / CAST(digit AS DOUBLE)), 9) AS expected
        FROM counts, tot""")


def _theilsen_slope(e: DataFrame, max_inrow: int = 1000) -> DataFrame:
    """Theil-Sen pairwise-slope median per user, guarded for unbounded
    histories: users with at most ``max_inrow`` events expand their
    C(n,2) pairs IN-ROW (one collect_list per user, quadratic fan-out
    inside the row — the market-basket shape, cheapest when histories
    are bounded); users above the threshold take the rank-self-join arm
    (row_number window + equi join on (user, rank_a < rank_b)), which
    spreads the same quadratic work across the partition instead of
    concentrating ~48 bytes/pair in a single row (n=10k ≈ 2.3 GiB).

    Both arms emit the IDENTICAL slope multiset: a pair's slope is
    orientation-symmetric bit-exactly ((-a)/(-b) == a/b in IEEE), so
    neither collect_list order nor rank order affects any value, and
    the per-user median interpolates the same float multiset either
    way.  The count that routes a user is a window aggregate over the
    same user-keyed exchange every arm already needs — the guard costs
    no extra shuffle, and each event row feeds exactly one arm.
    """
    base = e.select(
        "user_id",
        F.unix_micros("ts").alias("_t"),
        F.round(F.col("value") * 100).cast("bigint").alias("_v"),
    ).withColumn("_n", F.count("*").over(W.partitionBy("user_id")))
    small = base.filter((F.col("_n") <= max_inrow) & (F.col("_n") >= 2))
    big = base.filter(F.col("_n") > max_inrow)

    # arm A: bounded histories — in-row pair expansion
    g = small.select(
        "user_id",
        F.struct(F.col("_t").alias("t"), F.col("_v").alias("v")).alias("_pt"),
    ).groupBy("user_id").agg(F.collect_list("_pt").alias("_pts"))
    pts = F.col("_pts")
    pair_arr = F.flatten(
        F.transform(
            pts,
            lambda p1, i: F.transform(
                F.slice(pts, i + F.lit(2), F.size(pts)),
                lambda p2: F.struct(
                    p1["t"].alias("_t1"),
                    p1["v"].alias("_v1"),
                    p2["t"].alias("_t2"),
                    p2["v"].alias("_v2"),
                ),
            ),
        )
    )
    slope_a = (
        ((F.col("_p._v2") - F.col("_p._v1")) * 1000000).cast("double")
        / (F.col("_p._t2") - F.col("_p._t1")).cast("double")
    )
    pairs_small = (
        g.select("user_id", F.explode(pair_arr).alias("_p"))
        .filter(F.col("_p._t2") != F.col("_p._t1"))
        .select("user_id", slope_a.alias("_slope"))
    )

    # arm B: unbounded histories — rank self-join (any total order
    # yields the same unordered-pair multiset)
    wr = W.partitionBy("user_id").orderBy("_t", "_v")
    ranked = big.withColumn("_r", F.row_number().over(wr))
    ra, rb = ranked.alias("_A"), ranked.alias("_B")
    slope_b = (
        ((F.col("_B._v") - F.col("_A._v")) * 1000000).cast("double")
        / (F.col("_B._t") - F.col("_A._t")).cast("double")
    )
    pairs_big = (
        ra.join(
            rb,
            (F.col("_A.user_id") == F.col("_B.user_id"))
            & (F.col("_A._r") < F.col("_B._r")),
        )
        .filter(F.col("_B._t") != F.col("_A._t"))
        .select(F.col("_A.user_id").alias("user_id"), slope_b.alias("_slope"))
    )

    return (
        pairs_small.unionByName(pairs_big)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.expr("percentile(_slope, 0.5)"), 9).alias(
                "median_slope_cps"
            ),
        )
    )


def q_theilsen_slope(spark, sf_dir):
    """Theil-Sen robust trend per user: the median of all pairwise
    slopes — insensitive to the outliers that tilt value_trend's
    OLS.  Delegates to the guarded ``_theilsen_slope`` helper:
    bounded histories expand their C(n,2) pairs IN-ROW off one
    user-keyed shuffle (the market-basket shape), while histories
    past the 1000-event guard take the rank-self-join arm that
    spreads the quadratic fan-out across the partition instead of
    concentrating it in a single row — the power-user protection
    the in-row shape alone lacks.  Both arms emit the identical
    slope multiset (pair slopes are orientation-symmetric
    bit-exactly), each slope divides the exact integer cent delta
    by the exact microsecond gap once, and the median interpolates
    the identical float multiset in both engines (the
    rolling_median percentile contract)."""
    e = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    return _theilsen_slope(e)


register("theilsen_slope", q_theilsen_slope, """
        WITH r AS (
          SELECT user_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 epoch_us(ts) AS us
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        ), pairs AS (
          SELECT a.user_id,
                 CAST((b.vc - a.vc) * 1000000 AS DOUBLE)
                 / CAST(b.us - a.us AS DOUBLE) AS slope
          FROM r a JOIN r b
            ON a.user_id = b.user_id AND b.rn > a.rn AND b.us <> a.us
        )
        SELECT user_id,
               count(*) AS n_pairs,
               round(quantile_cont(slope, 0.5), 9) AS median_slope_cps
        FROM pairs GROUP BY user_id""")


def q_source_gini(spark, sf_dir):
    """Gini coefficients of corpus concentration across sources,
    one row per mass metric (documents and characters) — the
    diversity numbers a dataset card quotes (0 = balanced mixture,
    ->1 = one source dominates; the synthetic corpus is doc-
    balanced, so the docs row pins exact 0 while chars is
    nonzero).  Sorted-rank weights via a broadcast inequality
    self-join over the bounded (metric, source) relation — never a
    global window; exact int64 sums, one closing division."""
    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("_docs"),
        F.sum("n_chars").alias("_chars"),
    )
    melted = per_src.select(
        "source",
        F.explode(
            F.map_from_arrays(
                F.array(F.lit("docs"), F.lit("chars")),
                F.array(F.col("_docs"), F.col("_chars")),
            )
        ).alias("metric", "x"),
    )
    other = melted.select(
        F.col("metric").alias("_m2"),
        F.col("source").alias("_s2"),
        F.col("x").alias("_x2"),
    )
    ranked = (
        melted.join(
            F.broadcast(other),
            (F.col("_m2") == F.col("metric"))
            & (
                (F.col("_x2") < F.col("x"))
                | ((F.col("_x2") == F.col("x")) & (F.col("_s2") < F.col("source")))
            ),
            "left",
        )
        .groupBy("metric", "source", "x")
        .agg((F.count("_s2") + 1).cast("bigint").alias("rank"))
    )
    agg = ranked.groupBy("metric").agg(
        F.count("*").cast("bigint").alias("n_sources"),
        F.sum("x").cast("bigint").alias("total_mass"),
        F.sum(F.col("rank") * F.col("x")).cast("bigint").alias("_srx"),
    )
    # G = (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x)), ranks ascending
    return agg.select(
        "metric",
        "n_sources",
        "total_mass",
        F.round(
            (
                2 * F.col("_srx")
                - (F.col("n_sources") + 1) * F.col("total_mass")
            ).cast("double")
            / (F.col("n_sources") * F.col("total_mass")).cast("double"),
            9,
        ).alias("gini"),
    )


register("source_gini", q_source_gini, """
        WITH per_src AS (
          SELECT source, count(*) AS d, CAST(sum(n_chars) AS BIGINT) AS c
          FROM documents GROUP BY source
        ), melted AS (
          SELECT source, 'docs' AS metric, d AS x FROM per_src
          UNION ALL
          SELECT source, 'chars' AS metric, c AS x FROM per_src
        ), ranked AS (
          SELECT m.metric, m.source, m.x,
                 CAST((SELECT count(*) FROM melted o
                       WHERE o.metric = m.metric
                         AND (o.x < m.x
                              OR (o.x = m.x AND o.source < m.source))) + 1
                      AS BIGINT) AS rank
          FROM melted m
        )
        SELECT metric,
               CAST(count(*) AS BIGINT) AS n_sources,
               CAST(sum(x) AS BIGINT) AS total_mass,
               round(CAST(2 * sum(rank * x)
                          - (count(*) + 1) * sum(x) AS DOUBLE)
                     / CAST(count(*) * sum(x) AS DOUBLE), 9) AS gini
        FROM ranked GROUP BY metric""")

_ab_h = sampling.salted_hash_sql("user_id", "ab6")
_ab_half = sampling.HASH_SPACE // 2


def q_ab_test_zscore(spark, sf_dir):
    """Two-proportion A/B z-test over a deterministic hash-split
    experiment: users land in arm A/B by salted md5 hash (the same
    portable split primitive as split_assign), conversion = at least
    14 'purchase' events (the per-user median is ~13, so both
    converted and unconverted users exist in every arm — an
    any-purchase definition saturates at 100% and zeroes the pooled
    variance).  All counts are exact int64; the z statistic
    is one mirrored chain of IEEE-exact ops (divides, sqrt) on those
    counts, so both engines emit the identical double.  One row."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    half = sampling.HASH_SPACE // 2
    arm = F.when(
        sampling.salted_hash(F.col("user_id"), "ab6") < half, "A"
    ).otherwise("B")
    per_user = e.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14
        ).cast("bigint").alias("_conv")
    ).withColumn("_arm", arm)
    s = per_user.agg(
        F.sum(F.when(F.col("_arm") == "A", 1).otherwise(0))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("_arm") == "A", F.col("_conv")).otherwise(0))
        .cast("bigint").alias("conv_a"),
        F.sum(F.when(F.col("_arm") == "B", 1).otherwise(0))
        .cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("_arm") == "B", F.col("_conv")).otherwise(0))
        .cast("bigint").alias("conv_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("conv_a").cast("double") / na
    pb = F.col("conv_b").cast("double") / nb
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        (F.col("n_a") + F.col("n_b")).cast("double")
    )
    z = (pa - pb) / F.sqrt(
        pool * (1 - pool) * (1 / na + 1 / nb)
    )
    return s.select(
        "n_a", "conv_a", "n_b", "conv_b",
        F.round(pa, 9).alias("rate_a"),
        F.round(pb, 9).alias("rate_b"),
        F.round(z, 9).alias("z_score"),
    )


register("ab_test_zscore", q_ab_test_zscore, lambda: f"""
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      >= 14 AS BIGINT) AS conv,
                 CASE WHEN {_ab_h} < {_ab_half} THEN 'A' ELSE 'B' END AS arm
          FROM events WHERE user_id IS NOT NULL
          GROUP BY user_id
        ), s AS (
          SELECT
            CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT)
              AS conv_a,
            CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT)
              AS conv_b
          FROM pu
        )
        SELECT n_a, conv_a, n_b, conv_b,
               round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 9)
                 AS rate_a,
               round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 9)
                 AS rate_b,
               round(
                 (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt(
                     (CAST(conv_a + conv_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE))
                     * (1 - CAST(conv_a + conv_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                     * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE))
                   ), 9) AS z_score
        FROM s""")

_theta_sql = (
    "(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / CAST(n * sxx - sx * sx AS DOUBLE))"
)

_xbar_sql = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"


def q_cuped_adjust(spark, sf_dir):
    """CUPED variance reduction on the same hash-split experiment:
    pre-period (first half of the month) spend is the covariate for
    post-period spend.  theta = cov(x,y)/var(x) and the covariate
    mean come from EXACT int64 cent moments (the value_hour_corr
    discipline); each arm's adjusted mean y - theta*(x - xbar) is a
    mirrored float chain on exact arm sums.  Two rows (one per arm).
    At extreme corpus scale the int64 cross-moments would move to
    DECIMAL(38) — noted, not needed at gate SF."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    half = sampling.HASH_SPACE // 2
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(pre, cents).otherwise(0)).cast("bigint").alias("x"),
        F.sum(F.when(~pre, cents).otherwise(0)).cast("bigint").alias("y"),
    ).withColumn(
        "arm",
        F.when(
            sampling.salted_hash(F.col("user_id"), "ab6") < half, "A"
        ).otherwise("B"),
    )
    g = per_user.agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("x").cast("bigint").alias("_sx"),
        F.sum("y").cast("bigint").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("_sxx"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("_ax"),
        F.sum("y").cast("bigint").alias("_ay"),
    )
    theta = (
        (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
        .cast("double")
        / (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        .cast("double")
    )
    xbar = F.col("_sx").cast("double") / F.col("_n").cast("double")
    nu = F.col("n_users").cast("double")
    mean_post = F.col("_ay").cast("double") / nu
    mean_adj = (
        F.col("_ay").cast("double")
        - theta * (F.col("_ax").cast("double") - nu * xbar)
    ) / nu
    return (
        arms.crossJoin(F.broadcast(g))
        .select(
            "arm",
            "n_users",
            F.round(mean_post, 9).alias("mean_post_cents"),
            F.round(mean_adj, 9).alias("mean_adj_cents"),
            F.round(theta, 9).alias("theta"),
        )
    )


register("cuped_adjust", q_cuped_adjust, lambda: f"""
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                               THEN CAST(round(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                               THEN 0
                               ELSE CAST(round(value * 100) AS BIGINT)
                          END) AS BIGINT) AS y,
                 CASE WHEN {_ab_h} < {_ab_half} THEN 'A' ELSE 'B' END AS arm
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY user_id
        ), g AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM pu
        ), arms AS (
          SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(x) AS BIGINT) AS ax,
                 CAST(sum(y) AS BIGINT) AS ay
          FROM pu GROUP BY arm
        )
        SELECT arm, n_users,
               round(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE), 9)
                 AS mean_post_cents,
               round(
                 (CAST(ay AS DOUBLE)
                  - {_theta_sql}
                    * (CAST(ax AS DOUBLE)
                       - CAST(n_users AS DOUBLE) * {_xbar_sql}))
                 / CAST(n_users AS DOUBLE), 9) AS mean_adj_cents,
               round({_theta_sql}, 9) AS theta
        FROM arms CROSS JOIN g""")

_theta_strat_sql = (
    "(CAST(n * sxy - sx * sy AS DOUBLE)"
    " / CAST(nullif(n * sxx - sx * sx, 0) AS DOUBLE))"
)


def q_cuped_stratified(spark, sf_dir):
    """Group-wise CUPED: the cuped_adjust experiment post-stratified
    by pre-period engagement tier (per-user pre-period event count,
    tercile cuts npre <= 30 'low', <= 36 'mid', else 'high').
    theta and the covariate mean are computed WITHIN each tier from
    exact int64 cent moments (the value_hour_corr discipline), so
    stratification absorbs the engagement-mix difference between
    arms that a single global theta leaves on the table.  A tier
    whose pre-period covariate is constant has zero variance:
    theta is nullif-guarded to NULL in both engines and the
    adjusted mean falls back to the raw post mean
    (coalesce(theta, 0)).  Tier moments are a bounded 3-row
    broadcast; the per-user table aggregates once and each side of
    the join is a short-key combine — no extra corpus shuffle over
    plain CUPED."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    half = sampling.HASH_SPACE // 2
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.sum(F.when(pre, cents).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(~pre, cents).otherwise(0))
            .cast("bigint")
            .alias("y"),
            F.sum(F.when(pre, 1).otherwise(0))
            .cast("bigint")
            .alias("_npre"),
        )
        .withColumn(
            "tier",
            F.when(F.col("_npre") <= 30, "low")
            .when(F.col("_npre") <= 36, "mid")
            .otherwise("high"),
        )
        .withColumn(
            "arm",
            F.when(
                sampling.salted_hash(F.col("user_id"), "ab6") < half, "A"
            ).otherwise("B"),
        )
    )
    g = per_user.groupBy("tier").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("x").cast("bigint").alias("_sx"),
        F.sum("y").cast("bigint").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("_sxx"),
    )
    arms = per_user.groupBy("tier", "arm").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("_ax"),
        F.sum("y").cast("bigint").alias("_ay"),
    )
    theta = (
        F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    ).cast("double") / F.nullif(
        F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx"),
        F.lit(0),
    ).cast("double")
    xbar = F.col("_sx").cast("double") / F.col("_n").cast("double")
    nu = F.col("n_users").cast("double")
    mean_post = F.col("_ay").cast("double") / nu
    mean_adj = (
        F.col("_ay").cast("double")
        - F.coalesce(theta, F.lit(0.0))
        * (F.col("_ax").cast("double") - nu * xbar)
    ) / nu
    return arms.join(F.broadcast(g), "tier").select(
        "tier",
        "arm",
        "n_users",
        F.round(mean_post, 9).alias("mean_post_cents"),
        F.round(mean_adj, 9).alias("mean_adj_cents"),
        F.round(theta, 9).alias("theta"),
    )


register("cuped_stratified", q_cuped_stratified, lambda: f"""
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                               THEN CAST(round(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                               THEN 0
                               ELSE CAST(round(value * 100) AS BIGINT)
                          END) AS BIGINT) AS y,
                 CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                               THEN 1 ELSE 0 END) AS BIGINT) AS npre,
                 CASE WHEN {_ab_h} < {_ab_half} THEN 'A' ELSE 'B' END AS arm
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY user_id
        ), pt AS (
          SELECT *,
                 CASE WHEN npre <= 30 THEN 'low'
                      WHEN npre <= 36 THEN 'mid'
                      ELSE 'high' END AS tier
          FROM pu
        ), g AS (
          SELECT tier,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx
          FROM pt GROUP BY tier
        ), arms AS (
          SELECT tier, arm, CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(x) AS BIGINT) AS ax,
                 CAST(sum(y) AS BIGINT) AS ay
          FROM pt GROUP BY tier, arm
        )
        SELECT a.tier AS tier, a.arm AS arm, a.n_users AS n_users,
               round(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE), 9)
                 AS mean_post_cents,
               round(
                 (CAST(ay AS DOUBLE)
                  - coalesce({_theta_strat_sql}, 0)
                    * (CAST(ax AS DOUBLE)
                       - CAST(n_users AS DOUBLE)
                         * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))))
                 / CAST(n_users AS DOUBLE), 9) AS mean_adj_cents,
               round({_theta_strat_sql}, 9) AS theta
        FROM arms a JOIN g ON a.tier = g.tier""")


def q_markov_transitions(spark, sf_dir):
    """First-order Markov model of user behavior: event-type
    transition counts and conditional probabilities from each user's
    (ts, event_id)-ordered event sequence.  lead() runs in windows
    partitioned by user (hash-distributes at scale, never a global
    sort); the |types|^2 transition matrix aggregates with map-side
    combine; each probability is one exact-int64 divide.  The counts
    table is checkpointed because both the output and the row-total
    branch consume it — without that, Spark rebuilds the whole
    scan -> user-shuffle -> window-sort subtree a second time just to
    re-derive the tiny matrix it already computed."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = t.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("_rt")
    )
    return (
        t.join(F.broadcast(tot), on="from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("_rt").cast("double"), 9
            ).alias("prob"),
        )
    )


register("markov_transitions", q_markov_transitions, """
        WITH s AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS to_type
          FROM events WHERE user_id IS NOT NULL
        ), t AS (
          SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          FROM s WHERE to_type IS NOT NULL
          GROUP BY from_type, to_type
        ), rt AS (
          SELECT from_type, CAST(sum(n) AS BIGINT) AS rt FROM t
          GROUP BY from_type
        )
        SELECT t.from_type, t.to_type, t.n,
               round(CAST(t.n AS DOUBLE) / CAST(rt.rt AS DOUBLE), 9) AS prob
        FROM t JOIN rt ON rt.from_type = t.from_type""")


def q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve for time-to-first-big-purchase
    (first 'purchase' with value > 200; ~4/5 of users are censored
    at the window end, so every risk set strictly exceeds its death
    count and no ln(0) arises).  Day-level death counts and risk
    sets are exact int64 via two broadcast inequality self-joins
    over the <= 31 distinct event days (the vocab_stats cumulative
    pattern — no single-partition window); the product-limit
    estimator runs as exp(cumulative sum of ln(1 - d/n)), each term
    a mirrored IEEE chain, 9-digit-rounded."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    day = (
        F.datediff(
            F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("bigint")
    fe = (
        e.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > 200)
        )
        .groupBy("user_id")
        .agg(F.min(day).alias("day"))
    )
    # <= 31 day rows, two consumers per level (both sides of each
    # inequality self-join); checkpoints keep the events passes to
    # two (first-event build + the all-user risk denominator)
    d = (
        fe.groupBy("day")
        .agg(F.count("*").cast("bigint").alias("deaths"))
        .localCheckpoint(eager=False)
    )
    ntot = e.agg(
        F.countDistinct("user_id").cast("bigint").alias("_N")
    )
    b = d.select(
        F.col("day").alias("_bday"), F.col("deaths").alias("_bdeaths")
    )
    w = (
        d.join(F.broadcast(b), F.col("_bday") < F.col("day"), "left")
        .groupBy("day", "deaths")
        .agg(
            F.coalesce(F.sum("_bdeaths"), F.lit(0))
            .cast("bigint")
            .alias("_prior")
        )
        .crossJoin(F.broadcast(ntot))
        .withColumn("at_risk", (F.col("_N") - F.col("_prior")))
        .localCheckpoint(eager=False)
    )
    term = F.log(
        1
        - F.col("_bd2").cast("double") / F.col("_br2").cast("double")
    )
    t2 = w.select(
        F.col("day").alias("_bday2"),
        F.col("deaths").alias("_bd2"),
        F.col("at_risk").alias("_br2"),
    )
    return (
        w.join(F.broadcast(t2), F.col("_bday2") <= F.col("day"))
        .groupBy("day", "at_risk", "deaths")
        .agg(F.sum(term).alias("_lnsum"))
        .select(
            "day",
            "at_risk",
            "deaths",
            F.round(F.exp("_lnsum"), 9).alias("survival"),
        )
    )


register("kaplan_meier", q_kaplan_meier, """
        WITH fe AS (
          SELECT user_id,
                 min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                     + 1) AS day
          FROM events
          WHERE user_id IS NOT NULL AND event_type = 'purchase'
            AND value > 200
          GROUP BY user_id
        ), d AS (
          SELECT day, CAST(count(*) AS BIGINT) AS deaths FROM fe
          GROUP BY day
        ), ntot AS (
          SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events
          WHERE user_id IS NOT NULL
        ), w AS (
          SELECT day, deaths,
                 CAST(ntot.n - coalesce(
                   sum(deaths) OVER (
                     ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS at_risk
          FROM d CROSS JOIN ntot
        ), s AS (
          SELECT day, at_risk, deaths,
                 sum(ln(1 - CAST(deaths AS DOUBLE)
                            / CAST(at_risk AS DOUBLE))) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS lnsum
          FROM w
        )
        SELECT CAST(day AS BIGINT) AS day, at_risk, deaths,
               round(exp(lnsum), 9) AS survival
        FROM s""")


def q_moments_by_type(spark, sf_dir):
    """Skewness and excess kurtosis per event type from EXACT
    integer power sums of the dollar-quantized value (S1..S4 as
    int64 — order-invariant where float central-moment streaming is
    not; x<=490 keeps S4 ~1e14, far inside int64; a 100-TB corpus
    would promote the sums to DECIMAL(38)).  The closed forms
    divide once through a mirrored IEEE chain; var^1.5 is written
    var*sqrt(var) so no libm pow enters."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    x = F.round(F.col("value")).cast("bigint")
    m = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("_s1"),
        F.sum(x * x).cast("bigint").alias("_s2"),
        F.sum(x * x * x).cast("bigint").alias("_s3"),
        F.sum(x * x * x * x).cast("bigint").alias("_s4"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("_s1").cast("double") / nd
    m2 = F.col("_s2").cast("double") / nd - mean * mean
    m3 = (
        F.col("_s3").cast("double") / nd
        - 3 * mean * (F.col("_s2").cast("double") / nd)
        + 2 * mean * mean * mean
    )
    m4 = (
        F.col("_s4").cast("double") / nd
        - 4 * mean * (F.col("_s3").cast("double") / nd)
        + 6 * mean * mean * (F.col("_s2").cast("double") / nd)
        - 3 * mean * mean * mean * mean
    )
    return m.select(
        "event_type",
        "n",
        F.round(mean, 9).alias("mean_usd"),
        F.round(m3 / (m2 * F.sqrt(m2)), 9).alias("skewness"),
        F.round(m4 / (m2 * m2) - 3, 9).alias("excess_kurtosis"),
    )


register("moments_by_type", q_moments_by_type, """
        WITH m AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s1,
                 CAST(sum(x * x) AS BIGINT) AS s2,
                 CAST(sum(x * x * x) AS BIGINT) AS s3,
                 CAST(sum(x * x * x * x) AS BIGINT) AS s4
          FROM (
            SELECT event_type, CAST(round(value) AS BIGINT) AS x
            FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          )
          GROUP BY event_type
        )
        SELECT event_type, n,
               round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mean_usd,
               round(
                 (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                  - 3 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  + 2 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))),
                 9) AS skewness,
               round(
                 (CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                  - 4 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                  + 6 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  - 3 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                 / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))
                 - 3, 9) AS excess_kurtosis
        FROM m""")


def q_mutual_information(spark, sf_dir):
    """Mutual information between event type and day-of-week,
    emitted PER CELL in bits (the dow_type_chi2 discipline: no
    order-dependent float total exists — consumers sum the bounded
    35-row grid).  Every count is exact int64; each contribution is
    (n_ij/N) * log2(n_ij*N / (n_i*n_j)) with the log argument
    formed from exact integer products."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    # 35-row grid, four consumers (marginals, total, output);
    # checkpoint so the events scan + aggregate runs once
    cells = e.groupBy(
        "event_type", F.dayofweek("ts").cast("bigint").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("n_ij")).localCheckpoint(
        eager=False
    )
    rows = cells.groupBy("event_type").agg(
        F.sum("n_ij").cast("bigint").alias("_ri")
    )
    cols = cells.groupBy("dow").agg(
        F.sum("n_ij").cast("bigint").alias("_cj")
    )
    tot = cells.agg(F.sum("n_ij").cast("bigint").alias("_N"))
    contrib = (
        F.col("n_ij").cast("double") / F.col("_N").cast("double")
    ) * F.log2(
        (F.col("n_ij") * F.col("_N")).cast("double")
        / (F.col("_ri") * F.col("_cj")).cast("double")
    )
    return (
        cells.join(F.broadcast(rows), on="event_type")
        .join(F.broadcast(cols), on="dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "n_ij",
            F.round(contrib, 9).alias("mi_bits"),
        )
    )


register("mutual_information", q_mutual_information, """
        WITH cells AS (
          SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                 CAST(count(*) AS BIGINT) AS n_ij
          FROM events WHERE user_id IS NOT NULL
          GROUP BY event_type, dayofweek(ts)
        ), r AS (
          SELECT event_type, CAST(sum(n_ij) AS BIGINT) AS ri FROM cells
          GROUP BY event_type
        ), c AS (
          SELECT dow, CAST(sum(n_ij) AS BIGINT) AS cj FROM cells
          GROUP BY dow
        ), t AS (SELECT CAST(sum(n_ij) AS BIGINT) AS N FROM cells)
        SELECT cells.event_type, cells.dow, cells.n_ij,
               round((CAST(n_ij AS DOUBLE) / CAST(N AS DOUBLE))
                     * log2(CAST(n_ij * N AS DOUBLE)
                            / CAST(ri * cj AS DOUBLE)), 9) AS mi_bits
        FROM cells
        JOIN r ON r.event_type = cells.event_type
        JOIN c ON c.dow = cells.dow
        CROSS JOIN t""")


def q_lognormal_fit(spark, sf_dir):
    """Log-normal MLE per event type: mu/sigma of ln(cents) — the
    distributional prior check before modeling heavy-tailed spend.
    Cents are exact int64 (zero-filtered so ln is total); the ln
    sums span ~2000 terms whose cross-engine summation-order noise
    (~1e-12 absolute) sits 3+ digits under the 9-digit round after
    the /n normalization."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & (F.col("value") > 0)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    lx = F.log(cents.cast("double"))
    m = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(lx).alias("_sl"),
        F.sum(lx * lx).alias("_sll"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("_sl") / nd
    sigma = F.sqrt(F.col("_sll") / nd - mu * mu)
    return m.select(
        "event_type",
        "n",
        F.round(mu, 9).alias("mu_ln_cents"),
        F.round(sigma, 9).alias("sigma_ln_cents"),
    )


register("lognormal_fit", q_lognormal_fit, """
        WITH m AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(ln(CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE)))
                   AS sl,
                 sum(ln(CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE))
                     * ln(CAST(CAST(round(value * 100) AS BIGINT)
                               AS DOUBLE))) AS sll
          FROM events WHERE user_id IS NOT NULL AND value > 0
          GROUP BY event_type
        )
        SELECT event_type, n,
               round(sl / CAST(n AS DOUBLE), 9) AS mu_ln_cents,
               round(sqrt(sll / CAST(n AS DOUBLE)
                          - (sl / CAST(n AS DOUBLE))
                            * (sl / CAST(n AS DOUBLE))), 9)
                 AS sigma_ln_cents
        FROM m""")


def q_histogram_quantiles(spark, sf_dir):
    """Fixed-bin histogram quantile sketch with its accuracy
    harness: per event type, a 64-bin equi-width histogram over
    cents (the mergeable one-pass structure that replaces per-group
    sorts at scale — the shuffle carries at most 64 rows per
    (type, partition)), the bin-floor p50/p90/p99 estimates, and
    the exact interpolated percentiles alongside (the ann_recall
    pattern for sketches).  Bin ids and cumulative counts are exact
    int64 via a broadcast inequality join over <= 64 bins."""
    hi = 49003  # cents range upper bound (exclusive): max value 490.02
    nb = 64
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    binc = F.floor(
        (cents * nb).cast("double") / F.lit(float(hi))
    ).cast("bigint")
    # three consumers (cum's probe side, the broadcast b2 copy, tot)
    # — materialize the <= types*64-row aggregate once or each
    # consumer rebuilds it from a full events scan (plan
    # audit: 4 parquet scans -> 2; GC-released with the frame)
    bins = (
        e.groupBy(F.col("event_type"), binc.alias("bin"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = bins.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    b2 = bins.select(
        F.col("event_type").alias("_et"),
        F.col("bin").alias("_bbin"),
        F.col("cnt").alias("_bcnt"),
    )
    cum = (
        bins.join(
            F.broadcast(b2),
            (F.col("_et") == F.col("event_type"))
            & (F.col("_bbin") <= F.col("bin")),
        )
        .groupBy("event_type", "bin")
        .agg(F.sum("_bcnt").cast("bigint").alias("cum"))
        .join(F.broadcast(tot), on="event_type")
    )
    est = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") * 100 >= 50 * F.col("n"), F.col("bin"))
        ).alias("bin_p50"),
        F.min(
            F.when(F.col("cum") * 100 >= 90 * F.col("n"), F.col("bin"))
        ).alias("bin_p90"),
        F.min(
            F.when(F.col("cum") * 100 >= 99 * F.col("n"), F.col("bin"))
        ).alias("bin_p99"),
    )
    pct = F.percentile(
        cents, F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    exact = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(pct[0], 6).alias("exact_p50"),
        F.round(pct[1], 6).alias("exact_p90"),
        F.round(pct[2], 6).alias("exact_p99"),
    )
    edge = float(hi) / nb
    return exact.join(F.broadcast(est), on="event_type").select(
        "event_type",
        "n",
        "bin_p50",
        F.round(F.col("bin_p50").cast("double") * edge, 6).alias(
            "est_p50"
        ),
        "exact_p50",
        "bin_p90",
        F.round(F.col("bin_p90").cast("double") * edge, 6).alias(
            "est_p90"
        ),
        "exact_p90",
        "bin_p99",
        F.round(F.col("bin_p99").cast("double") * edge, 6).alias(
            "est_p99"
        ),
        "exact_p99",
    )


register("histogram_quantiles", q_histogram_quantiles, """
        WITH e AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        ), bins AS (
          SELECT event_type,
                 CAST(floor(CAST(cents * 64 AS DOUBLE)
                            / CAST(49003 AS DOUBLE)) AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM e GROUP BY 1, 2
        ), tot AS (
          SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM bins
          GROUP BY event_type
        ), cum AS (
          SELECT a.event_type, a.bin, CAST(sum(b.cnt) AS BIGINT) AS cum
          FROM bins a
          JOIN bins b ON b.event_type = a.event_type AND b.bin <= a.bin
          GROUP BY a.event_type, a.bin
        ), est AS (
          SELECT c.event_type,
                 min(CASE WHEN c.cum * 100 >= 50 * t.n THEN c.bin END)
                   AS bin_p50,
                 min(CASE WHEN c.cum * 100 >= 90 * t.n THEN c.bin END)
                   AS bin_p90,
                 min(CASE WHEN c.cum * 100 >= 99 * t.n THEN c.bin END)
                   AS bin_p99
          FROM cum c JOIN tot t ON t.event_type = c.event_type
          GROUP BY c.event_type
        ), ex AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 round(quantile_cont(cents, 0.5), 6) AS exact_p50,
                 round(quantile_cont(cents, 0.9), 6) AS exact_p90,
                 round(quantile_cont(cents, 0.99), 6) AS exact_p99
          FROM e GROUP BY event_type
        )
        SELECT ex.event_type, ex.n,
               est.bin_p50,
               round(CAST(est.bin_p50 AS DOUBLE)
                     * CAST(765.671875 AS DOUBLE), 6) AS est_p50,
               ex.exact_p50,
               est.bin_p90,
               round(CAST(est.bin_p90 AS DOUBLE)
                     * CAST(765.671875 AS DOUBLE), 6) AS est_p90,
               ex.exact_p90,
               est.bin_p99,
               round(CAST(est.bin_p99 AS DOUBLE)
                     * CAST(765.671875 AS DOUBLE), 6) AS est_p99,
               ex.exact_p99
        FROM ex JOIN est ON est.event_type = ex.event_type""")

_daily_cte = """
          SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                      + 1 AS BIGINT) AS day,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY 1"""


def q_daily_acf(spark, sf_dir):
    """Autocorrelation of the daily revenue series at lags 1..7 —
    the pre-forecasting seasonality diagnostic.  The 30-row daily
    series aggregates to exact cent sums; each lag's aligned pairs
    come from a broadcast self-join on day+lag; Pearson r per lag
    uses the exact-int64 moment discipline of value_hour_corr."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    day = (
        F.datediff(
            F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("bigint")
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = e.groupBy(day.alias("day")).agg(
        F.sum(cents).cast("bigint").alias("x")
    )
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    b = daily.select(
        F.col("day").alias("_bday"), F.col("x").alias("_y")
    )
    pairs = (
        daily.crossJoin(F.broadcast(lags))
        .join(
            F.broadcast(b),
            F.col("_bday") == F.col("day") + F.col("lag"),
        )
    )
    m = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("x").cast("bigint").alias("_sx"),
        F.sum("_y").cast("bigint").alias("_sy"),
        F.sum(F.col("x") * F.col("_y")).cast("bigint").alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("bigint").alias("_syy"),
    )
    num = (
        F.col("n_pairs") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    ).cast("double")
    den = F.sqrt(
        (F.col("n_pairs") * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        .cast("double")
    ) * F.sqrt(
        (F.col("n_pairs") * F.col("_syy") - F.col("_sy") * F.col("_sy"))
        .cast("double")
    )
    return m.select(
        "lag", "n_pairs", F.round(num / den, 9).alias("acf")
    )


register("daily_acf", q_daily_acf, lambda: f"""
        WITH daily AS ({_daily_cte}
        ), p AS (
          SELECT l.lag, a.x AS x, b.x AS y
          FROM daily a
          CROSS JOIN (
            SELECT CAST(unnest(generate_series(1, 7)) AS BIGINT) AS lag
          ) l
          JOIN daily b ON b.day = a.day + l.lag
        ), m AS (
          SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM p GROUP BY lag
        )
        SELECT lag, n_pairs,
               round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))),
                     9) AS acf
        FROM m""")


def q_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition of daily revenue: trend =
    centered 7-day mean (full windows only, via a broadcast range
    self-join over the bounded day grid — no single-partition
    window), seasonal = per-day-of-week mean deviation, residual =
    the rest.  Trend divides an exact int64 window sum once; the
    seasonal means average <= 4 IEEE-exact deviations."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    day = (
        F.datediff(
            F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("bigint")
    cents = F.round(F.col("value") * 100).cast("bigint")
    # <= 31-row day series feeding both range-join sides, and the
    # trend table feeding both the seasonal means and the output —
    # checkpoints keep the events pass and the range join to one each
    daily = e.groupBy(
        day.alias("day"),
        F.dayofweek("ts").cast("bigint").alias("dow"),
    ).agg(F.sum(cents).cast("bigint").alias("x")).localCheckpoint(
        eager=False
    )
    b = daily.select(
        F.col("day").alias("_bday"), F.col("x").alias("_bx")
    )
    tr = (
        daily.join(
            F.broadcast(b),
            (F.col("_bday") >= F.col("day") - 3)
            & (F.col("_bday") <= F.col("day") + 3),
        )
        .groupBy("day", "dow", "x")
        .agg(
            F.count("*").alias("_w"),
            F.sum("_bx").cast("bigint").alias("_ws"),
        )
        .filter(F.col("_w") == 7)
        .withColumn(
            "trend", F.col("_ws").cast("double") / F.lit(7.0)
        )
        .withColumn(
            "dev", F.col("x").cast("double") - F.col("trend")
        )
        .localCheckpoint(eager=False)
    )
    seas = tr.groupBy("dow").agg(
        (F.sum("dev") / F.count("*").cast("double")).alias("seasonal")
    )
    return (
        tr.join(F.broadcast(seas), on="dow")
        .select(
            "day",
            "dow",
            F.col("x").alias("revenue_cents"),
            F.round("trend", 9).alias("trend"),
            F.round("seasonal", 9).alias("seasonal"),
            F.round(F.col("dev") - F.col("seasonal"), 9).alias(
                "residual"
            ),
        )
    )


register("seasonal_decompose", q_seasonal_decompose, """
        WITH daily AS (
          SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                      + 1 AS BIGINT) AS day,
                 CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY 1, 2
        ), tr AS (
          SELECT a.day, a.dow, a.x,
                 CAST(count(*) AS BIGINT) AS w,
                 CAST(sum(b.x) AS BIGINT) AS ws
          FROM daily a
          JOIN daily b ON b.day BETWEEN a.day - 3 AND a.day + 3
          GROUP BY a.day, a.dow, a.x
        ), t2 AS (
          SELECT day, dow, x,
                 CAST(ws AS DOUBLE) / 7 AS trend,
                 CAST(x AS DOUBLE) - CAST(ws AS DOUBLE) / 7 AS dev
          FROM tr WHERE w = 7
        ), seas AS (
          SELECT dow, sum(dev) / CAST(count(*) AS DOUBLE) AS seasonal
          FROM t2 GROUP BY dow
        )
        SELECT t2.day, t2.dow, t2.x AS revenue_cents,
               round(trend, 9) AS trend,
               round(seasonal, 9) AS seasonal,
               round(dev - seasonal, 9) AS residual
        FROM t2 JOIN seas ON seas.dow = t2.dow""")


def q_changepoint(spark, sf_dir):
    """Offline CUSUM changepoint over the daily revenue series: the
    day maximizing |n*S_k - k*S_n| — the scaled deviation of the
    cumulative sum from the uniform ramp — ENTIRELY in exact int64
    (no float enters until the reported normalized statistic).
    Cumulatives ride the broadcast inequality join; the argmax is
    TakeOrdered with a full-key tiebreak."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    day = (
        F.datediff(
            F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("bigint")
    cents = F.round(F.col("value") * 100).cast("bigint")
    # day series feeds both inequality-join sides; the cumulative
    # table feeds the total and the output — checkpoint each once
    daily = e.groupBy(day.alias("day")).agg(
        F.sum(cents).cast("bigint").alias("x")
    ).localCheckpoint(eager=False)
    b = daily.select(
        F.col("day").alias("_bday"), F.col("x").alias("_bx")
    )
    cum = (
        daily.join(F.broadcast(b), F.col("_bday") <= F.col("day"))
        .groupBy("day")
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.sum("_bx").cast("bigint").alias("s_k"),
        )
        .localCheckpoint(eager=False)
    )
    tot = cum.agg(
        F.max("k").cast("bigint").alias("_n"),
        F.max("s_k").cast("bigint").alias("_s_n"),
    )
    stat = F.abs(
        F.col("_n") * F.col("s_k") - F.col("k") * F.col("_s_n")
    ).cast("bigint")
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "k",
            stat.alias("stat"),
            F.round(
                stat.cast("double")
                / (F.col("_n").cast("double") * F.col("_s_n").cast("double")),
                9,
            ).alias("norm_stat"),
        )
        .orderBy(F.desc("stat"), F.asc("day"))
        .limit(1)
    )


register("changepoint", q_changepoint, lambda: f"""
        WITH daily AS ({_daily_cte}
        ), cum AS (
          SELECT a.day, CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(b.x) AS BIGINT) AS s_k
          FROM daily a JOIN daily b ON b.day <= a.day
          GROUP BY a.day
        ), tot AS (
          SELECT CAST(max(k) AS BIGINT) AS n,
                 CAST(max(s_k) AS BIGINT) AS s_n
          FROM cum
        )
        SELECT day, k,
               CAST(abs(n * s_k - k * s_n) AS BIGINT) AS stat,
               round(CAST(abs(n * s_k - k * s_n) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(s_n AS DOUBLE)), 9)
                 AS norm_stat
        FROM cum CROSS JOIN tot
        ORDER BY stat DESC, day LIMIT 1""")


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier pair: the re-identification risk summary a
    privacy review runs before releasing a customer extract.  One
    hash-partitioned group-count plus a bounded summary aggregate —
    all exact int64."""
    c = _t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.min("sz").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("sz") < 10, 1).otherwise(0))
        .cast("bigint")
        .alias("groups_below_10"),
        F.sum(F.when(F.col("sz") < 10, F.col("sz")).otherwise(0))
        .cast("bigint")
        .alias("records_at_risk"),
    )


register("k_anonymity", q_k_anonymity, """
        WITH g AS (
          SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS sz
          FROM customer GROUP BY c_nationkey, c_mktsegment
        )
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(sz) AS BIGINT) AS k_anonymity,
               CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
                 AS groups_below_10,
               CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
                 AS records_at_risk
        FROM g""")


def q_l_diversity(spark, sf_dir):
    """l-diversity per quasi-identifier group: distinct
    account-balance bands (the sensitive attribute, 1000-unit
    floor) within each (nation, segment) group.  A group that is
    k-anonymous but 1-diverse still leaks the sensitive value —
    this emits every group with its size and l so the release
    policy can threshold both.  floor division runs on shifted
    non-negative operands (Spark div truncates toward zero, DuckDB
    // floors — they agree only above zero)."""
    c = _t(spark, sf_dir, "customer")
    # acctbal can be negative: shift by +10000 before the 1000-band
    # floor so truncating and flooring division agree
    band = F.floor(
        (F.col("c_acctbal") + 10000.0) / F.lit(1000.0)
    ).cast("bigint")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("group_size"),
            F.countDistinct(band).cast("bigint").alias("l_diversity"),
        )
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            "group_size",
            "l_diversity",
        )
    )


register("l_diversity", q_l_diversity, """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               c_mktsegment AS mktsegment,
               CAST(count(*) AS BIGINT) AS group_size,
               CAST(count(DISTINCT CAST(floor(
                 (c_acctbal + CAST(10000 AS DOUBLE))
                 / CAST(1000 AS DOUBLE)) AS BIGINT)) AS BIGINT)
                 AS l_diversity
        FROM customer GROUP BY c_nationkey, c_mktsegment""")

_dp_h = sampling.salted_hash_sql("event_type", "dp6")

_dp_noise = (
    f"((-2.0 * CASE WHEN (CAST({_dp_h} AS DOUBLE) + 0.5)"
    f" / CAST({sampling.HASH_SPACE} AS DOUBLE) - 0.5 < 0"
    f" THEN -1.0 ELSE 1.0 END)"
    f" * ln(1 - 2 * abs((CAST({_dp_h} AS DOUBLE) + 0.5)"
    f" / CAST({sampling.HASH_SPACE} AS DOUBLE) - 0.5)))"
)


def q_dp_noised_counts(spark, sf_dir):
    """Differentially-private-style noised release of per-type
    event counts: Laplace(b=2) noise via inverse-CDF transform of a
    salted-hash uniform — DETERMINISTIC here so the oracle can
    replay the release bit-for-bit (a production release draws real
    randomness; the plan shape — exact count, one noise term, no
    extra pass — is identical).  The uniform is (h+0.5)/2^32 from
    the portable md5 hash, so sign and magnitude mirror exactly."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    cnt = e.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    u = (
        sampling.salted_hash(F.col("event_type"), "dp6").cast("double")
        + 0.5
    ) / F.lit(float(sampling.HASH_SPACE))
    half = u - 0.5
    noise = (
        -2.0
        * F.when(half < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
        * F.log(1 - 2 * F.abs(half))
    )
    return cnt.select(
        "event_type",
        "n",
        F.round(noise, 9).alias("noise"),
        F.round(F.col("n").cast("double") + noise, 9).alias("noised_n"),
    )


register("dp_noised_counts", q_dp_noised_counts, lambda: f"""
        WITH cnt AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM events WHERE user_id IS NOT NULL
          GROUP BY event_type
        )
        SELECT event_type, n,
               round({_dp_noise}, 9) AS noise,
               round(CAST(n AS DOUBLE) + {_dp_noise}, 9) AS noised_n
        FROM cnt""")


def q_outlier_mad(spark, sf_dir):
    """Robust outlier census per event type via median absolute
    deviation: med and MAD are exact interpolated percentiles over
    exact cents (both engines interpolate identically on identical
    multisets, so the 3 * 1.4826 * MAD fence is the same double and
    the outlier count is deterministic) — the heavy-tail-safe
    alternative to the mean/std z-score."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    rows = e.select("event_type", cents.alias("c"))
    med = rows.groupBy("event_type").agg(
        F.percentile(F.col("c"), F.lit(0.5)).alias("med")
    )
    j = rows.join(F.broadcast(med), on="event_type")
    dev = F.abs(F.col("c").cast("double") - F.col("med"))
    mad = j.groupBy("event_type").agg(
        F.percentile(dev, F.lit(0.5)).alias("mad")
    )
    j2 = j.join(F.broadcast(mad), on="event_type")
    return j2.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.max("med"), 6).alias("med_cents"),
        F.round(F.max("mad"), 6).alias("mad_cents"),
        F.sum(
            (dev > 3 * F.lit(1.4826) * F.col("mad")).cast("bigint")
        )
        .cast("bigint")
        .alias("n_outliers"),
    )


register("outlier_mad", q_outlier_mad, """
        WITH r AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        ), med AS (
          SELECT event_type, quantile_cont(c, 0.5) AS med FROM r
          GROUP BY event_type
        ), mad AS (
          SELECT r.event_type,
                 quantile_cont(abs(CAST(c AS DOUBLE) - m.med), 0.5) AS mad
          FROM r JOIN med m ON m.event_type = r.event_type
          GROUP BY r.event_type
        )
        SELECT r.event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(max(m.med), 6) AS med_cents,
               round(max(d.mad), 6) AS mad_cents,
               CAST(sum(CASE WHEN abs(CAST(c AS DOUBLE) - m.med)
                                  > 3 * CAST(1.4826 AS DOUBLE) * d.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM r
        JOIN med m ON m.event_type = r.event_type
        JOIN mad d ON d.event_type = r.event_type
        GROUP BY r.event_type""")


def q_forecast_eval(spark, sf_dir):
    """Forecast backtest: Holt double-exponential smoothing (the
    holt_forecast recursion, dyadic alpha=1/4 beta=1/8) fit on the
    first 23 days of daily revenue, h-step forecasts level + h *
    trend scored against the 7 held-out days — per-day absolute
    error and APE, the columns MAE/MAPE summarize.  The fold runs
    over one bounded 23-element day array; the oracle replays it
    as a recursive CTE with the identical IEEE expression tree."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    day = (
        F.datediff(
            F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("bigint")
    cents = F.round(F.col("value") * 100).cast("bigint")
    # train and test both consume the <=31-row daily series;
    # checkpoint so the events scan + aggregate runs once
    daily = e.groupBy(day.alias("day")).agg(
        F.sum(cents).cast("bigint").alias("x")
    ).localCheckpoint(eager=False)
    train = daily.filter(F.col("day") <= 23)
    arr = F.array_sort(F.collect_list(F.struct("day", "x")))
    vals = F.transform(arr, lambda s: s["x"].cast("double"))
    x1 = F.element_at(vals, 1)
    x2 = F.element_at(vals, 2)
    init = F.struct(x2.alias("level"), (x2 - x1).alias("trend"))

    def _step(acc, x):
        level2 = F.lit(0.25) * x + F.lit(0.75) * (
            acc["level"] + acc["trend"]
        )
        return F.struct(
            level2.alias("level"),
            (
                F.lit(0.125) * (level2 - acc["level"])
                + F.lit(0.875) * acc["trend"]
            ).alias("trend"),
        )

    fin = F.aggregate(F.slice(vals, 3, F.size(vals) - 2), init, _step)
    fit = train.agg(
        fin["level"].alias("_level"), fin["trend"].alias("_trend")
    )
    test = daily.filter(F.col("day") >= 24)
    fcst = F.col("_level") + (F.col("day") - 23).cast("double") * F.col(
        "_trend"
    )
    ad = F.col("x").cast("double")
    return (
        test.crossJoin(F.broadcast(fit))
        .select(
            "day",
            F.col("x").alias("actual_cents"),
            # round(x, 9) at ~1e6-cent magnitude straddles the two
            # engines' rounding implementations (exact-decimal
            # HALF_UP vs scaled-float); 3 decimals of a cent keeps
            # the scaled value well inside double exactness
            F.round(fcst, 3).alias("forecast_cents"),
            F.round(F.abs(ad - fcst), 3).alias("abs_err"),
            F.round(F.abs(ad - fcst) / ad, 9).alias("ape"),
        )
    )


register("forecast_eval", q_forecast_eval, lambda: f"""
        WITH RECURSIVE daily AS ({_daily_cte}
        ), vpos AS (
          SELECT row_number() OVER (ORDER BY day) AS i,
                 CAST(x AS DOUBLE) AS v
          FROM daily WHERE day <= 23
        ), r AS (
          SELECT 2 AS i, b.v AS level, b.v - a.v AS trend
          FROM vpos a, vpos b WHERE a.i = 1 AND b.i = 2
          UNION ALL
          SELECT r.i + 1,
                 0.25 * p.v + 0.75 * (r.level + r.trend),
                 0.125 * ((0.25 * p.v + 0.75 * (r.level + r.trend))
                          - r.level)
                 + 0.875 * r.trend
          FROM r JOIN vpos p ON p.i = r.i + 1
        ), fit AS (
          SELECT level, trend FROM r
          WHERE i = (SELECT max(i) FROM vpos)
        )
        SELECT day, x AS actual_cents,
               round(level + CAST(day - 23 AS DOUBLE) * trend, 3)
                 AS forecast_cents,
               round(abs(CAST(x AS DOUBLE)
                         - (level + CAST(day - 23 AS DOUBLE) * trend)), 3)
                 AS abs_err,
               round(abs(CAST(x AS DOUBLE)
                         - (level + CAST(day - 23 AS DOUBLE) * trend))
                     / CAST(x AS DOUBLE), 9) AS ape
        FROM daily CROSS JOIN fit WHERE day >= 24""")


def q_ts_features(spark, sf_dir):
    """Per-user time-series feature table (the tsfresh-style
    feature-extraction pass a behavioral model trains on): count,
    mean/std, range, OLS slope over event index, and lag-1
    autocorrelation — every moment an exact int64 sum over the
    user's (ts, event_id)-ordered cent series, divided once at the
    end (the value_hour_corr discipline applied five ways in one
    pass)."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.select(
        "user_id",
        cents.alias("c"),
        F.row_number().over(w).cast("bigint").alias("i"),
        F.lead(cents).over(w).alias("c_next"),
    )
    m = r.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("_s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("_s2"),
        F.max("c").cast("bigint").alias("_mx"),
        F.min("c").cast("bigint").alias("_mn"),
        F.sum(F.col("i")).cast("bigint").alias("_si"),
        F.sum(F.col("i") * F.col("i")).cast("bigint").alias("_sii"),
        F.sum(F.col("i") * F.col("c")).cast("bigint").alias("_sic"),
        F.sum(F.when(F.col("c_next").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("_np"),
        F.sum(F.when(F.col("c_next").isNotNull(), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("_px"),
        F.sum(
            F.when(F.col("c_next").isNotNull(), F.col("c_next")).otherwise(0)
        )
        .cast("bigint")
        .alias("_py"),
        F.sum(
            F.when(
                F.col("c_next").isNotNull(), F.col("c") * F.col("c_next")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("_pxy"),
        F.sum(
            F.when(
                F.col("c_next").isNotNull(), F.col("c") * F.col("c")
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("_pxx"),
        F.sum(
            F.when(
                F.col("c_next").isNotNull(),
                F.col("c_next") * F.col("c_next"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("_pyy"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("_s1").cast("double") / nd
    var = F.col("_s2").cast("double") / nd - mean * mean
    slope = (
        (F.col("n") * F.col("_sic") - F.col("_si") * F.col("_s1"))
        .cast("double")
        / (F.col("n") * F.col("_sii") - F.col("_si") * F.col("_si"))
        .cast("double")
    )
    acnum = (
        F.col("_np") * F.col("_pxy") - F.col("_px") * F.col("_py")
    ).cast("double")
    acden = F.sqrt(
        (F.col("_np") * F.col("_pxx") - F.col("_px") * F.col("_px"))
        .cast("double")
    ) * F.sqrt(
        (F.col("_np") * F.col("_pyy") - F.col("_py") * F.col("_py"))
        .cast("double")
    )
    return m.select(
        "user_id",
        "n",
        F.round(mean, 9).alias("mean_cents"),
        F.round(F.sqrt(var), 9).alias("std_cents"),
        (F.col("_mx") - F.col("_mn")).alias("range_cents"),
        F.round(slope, 9).alias("index_slope"),
        F.round(acnum / acden, 9).alias("autocorr1"),
    )


register("ts_features", q_ts_features, """
        WITH r AS (
          SELECT user_id,
                 CAST(round(value * 100) AS BIGINT) AS c,
                 CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS BIGINT) AS i,
                 lead(CAST(round(value * 100) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS c_next
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        ), m AS (
          SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS s1,
                 CAST(sum(c * c) AS BIGINT) AS s2,
                 CAST(max(c) AS BIGINT) AS mx,
                 CAST(min(c) AS BIGINT) AS mn,
                 CAST(sum(i) AS BIGINT) AS si,
                 CAST(sum(i * i) AS BIGINT) AS sii,
                 CAST(sum(i * c) AS BIGINT) AS sic,
                 CAST(sum(CASE WHEN c_next IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS np,
                 CAST(sum(CASE WHEN c_next IS NOT NULL THEN c ELSE 0 END)
                      AS BIGINT) AS px,
                 CAST(sum(CASE WHEN c_next IS NOT NULL THEN c_next ELSE 0
                          END) AS BIGINT) AS py,
                 CAST(sum(CASE WHEN c_next IS NOT NULL THEN c * c_next
                          ELSE 0 END) AS BIGINT) AS pxy,
                 CAST(sum(CASE WHEN c_next IS NOT NULL THEN c * c ELSE 0
                          END) AS BIGINT) AS pxx,
                 CAST(sum(CASE WHEN c_next IS NOT NULL THEN c_next * c_next
                          ELSE 0 END) AS BIGINT) AS pyy
          FROM r GROUP BY user_id
        )
        SELECT user_id, n,
               round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 9)
                 AS mean_cents,
               round(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                          - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))), 9)
                 AS std_cents,
               mx - mn AS range_cents,
               round(CAST(n * sic - si * s1 AS DOUBLE)
                     / CAST(n * sii - si * si AS DOUBLE), 9)
                 AS index_slope,
               round(CAST(np * pxy - px * py AS DOUBLE)
                     / (sqrt(CAST(np * pxx - px * px AS DOUBLE))
                        * sqrt(CAST(np * pyy - py * py AS DOUBLE))), 9)
                 AS autocorr1
        FROM m""")

_kmv_h = sampling.salted_hash_sql("user_id", "kmv6")
_HSD = f"CAST({sampling.HASH_SPACE} AS DOUBLE)"


def q_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values / theta) distinct sketch per event
    type with its accuracy harness: the 32 smallest salted user
    hashes per type give estimate (k-1) * H / h_k, emitted next to
    the exact distinct count (the histogram_quantiles pattern for
    cardinality).  The sketch is mergeable (k smallest of a union
    of k-smallest sets) — at scale the shuffle carries 32 hashes
    per (type, partition) instead of the distinct user sets.
    h_k is an exact integer; one float division at the end."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    du = e.select("event_type", "user_id").distinct()
    h = sampling.salted_hash(F.col("user_id"), "kmv6")
    r = du.select("event_type", h.alias("_h")).withColumn(
        "_b", F.pmod(F.col("_h"), F.lit(256))
    )
    # two-level k-smallest merge: per (type, hash-bucket) partial
    # k-min (bounded arrays), then a bounded 256-array merge per
    # type — never a per-type rank window over the full distinct set
    lvl1 = r.groupBy("event_type", "_b").agg(
        F.slice(F.array_sort(F.collect_set("_h")), 1, 32).alias("_ks")
    )
    lvl2 = lvl1.groupBy("event_type").agg(
        # F.get is 0-based and NULL out-of-bounds (ANSI-safe when a
        # type has fewer than 32 distinct users: the sketch is exact
        # there and the estimate column goes NULL by design)
        F.get(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("_ks"))), 1, 32
            ),
            31,
        )
        .cast("bigint")
        .alias("kth_hash")
    )
    exact = du.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("exact_distinct")
    )
    return exact.join(F.broadcast(lvl2), on="event_type").select(
        "event_type",
        "exact_distinct",
        "kth_hash",
        F.round(
            F.lit(31.0)
            * F.lit(float(sampling.HASH_SPACE))
            / F.col("kth_hash").cast("double"),
            6,
        ).alias("kmv_estimate"),
    )


register("kmv_distinct", q_kmv_distinct, lambda: f"""
        WITH du AS (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE user_id IS NOT NULL
        ), hx AS (
          SELECT DISTINCT event_type, {_kmv_h} AS h FROM du
        ), rn AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
          FROM hx
        ), kth AS (
          SELECT event_type,
                 CAST(max(CASE WHEN rn = 32 THEN h END) AS BIGINT)
                   AS kth_hash
          FROM rn GROUP BY event_type
        ), ex AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
          FROM du GROUP BY event_type
        )
        SELECT ex.event_type, ex.exact_distinct, kth.kth_hash,
               round(31.0 * {_HSD} / CAST(kth.kth_hash AS DOUBLE), 6)
                 AS kmv_estimate
        FROM ex JOIN kth ON kth.event_type = ex.event_type""")


def q_kmv_set_ops(spark, sf_dir):
    """Theta-sketch set operations: union and intersection distinct
    estimates for (purchase, view) user sets from their merged
    32-minimum-value sketches — union = (k-1)*H/theta over the
    merged k-smallest, intersection = (matching fraction below
    theta) * union (the inclusion rule theta sketches use) — next
    to the exact counts.  Everything through the final divides is
    exact integers over 32-row broadcast sets."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    h = sampling.salted_hash(F.col("user_id"), "kmv6")

    # one events scan per type: the distinct user sets feed BOTH the
    # sketch legs and the exact legs (plan sweep: ~10
    # events scans -> 2; every derived frame below is <= 32 rows or
    # an aggregate, so the lazy checkpoints are bounded and
    # GC-released with the result)
    pa = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    pv = (
        e.filter(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )

    def kset(src):
        # distinct hashes -> TakeOrdered top-32 (per-partition
        # partial top-k + merge; no global window)
        return (
            src.select(h.alias("_h"))
            .distinct()
            .orderBy("_h")
            .limit(32)
            .localCheckpoint(eager=False)
        )

    sa = kset(pa).withColumnRenamed("_h", "_ha")
    sb = kset(pv).withColumnRenamed("_h", "_hb")
    merged = (
        sa.select(F.col("_ha").alias("_h"))
        .union(sb.select(F.col("_hb").alias("_h")))
        .distinct()
        .orderBy("_h")
        .limit(32)
        .localCheckpoint(eager=False)
    )
    theta = merged.agg(F.max("_h").cast("bigint").alias("_theta"))
    both = (
        merged.join(
            F.broadcast(sa.select(F.col("_ha").alias("_h"))), on="_h"
        )
        .join(
            F.broadcast(sb.select(F.col("_hb").alias("_h"))), on="_h"
        )
        .agg(F.count("*").cast("bigint").alias("_m"))
    )
    exact_u = pa.union(pv).distinct().agg(
        F.count("*").cast("bigint").alias("u_exact")
    )
    exact_i = pa.join(pv, on="user_id").agg(
        F.count("*").cast("bigint").alias("i_exact")
    )
    u_est = (
        F.lit(31.0)
        * F.lit(float(sampling.HASH_SPACE))
        / F.col("_theta").cast("double")
    )
    return (
        exact_u.crossJoin(F.broadcast(exact_i))
        .crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(both))
        .select(
            "u_exact",
            F.round(u_est, 6).alias("u_est"),
            "i_exact",
            F.round(
                (F.col("_m").cast("double") / F.lit(32.0)) * u_est, 6
            ).alias("i_est"),
        )
    )


register("kmv_set_ops", q_kmv_set_ops, lambda: f"""
        WITH sa AS (
          SELECT h FROM (
            SELECT DISTINCT {_kmv_h} AS h FROM (
              SELECT DISTINCT user_id FROM events
              WHERE user_id IS NOT NULL AND event_type = 'purchase'
            )
          ) ORDER BY h LIMIT 32
        ), sb AS (
          SELECT h FROM (
            SELECT DISTINCT {_kmv_h} AS h FROM (
              SELECT DISTINCT user_id FROM events
              WHERE user_id IS NOT NULL AND event_type = 'view'
            )
          ) ORDER BY h LIMIT 32
        ), merged AS (
          SELECT h FROM (
            SELECT h FROM sa UNION SELECT h FROM sb
          ) ORDER BY h LIMIT 32
        ), theta AS (SELECT CAST(max(h) AS BIGINT) AS theta FROM merged),
        mm AS (
          SELECT CAST(count(*) AS BIGINT) AS m
          FROM merged
          JOIN sa ON sa.h = merged.h
          JOIN sb ON sb.h = merged.h
        ), eu AS (
          SELECT CAST(count(*) AS BIGINT) AS u_exact FROM (
            SELECT DISTINCT user_id FROM events
            WHERE user_id IS NOT NULL
              AND event_type IN ('purchase', 'view')
          )
        ), ei AS (
          SELECT CAST(count(*) AS BIGINT) AS i_exact FROM (
            SELECT user_id FROM events
            WHERE user_id IS NOT NULL AND event_type = 'purchase'
            GROUP BY user_id
          ) a JOIN (
            SELECT user_id FROM events
            WHERE user_id IS NOT NULL AND event_type = 'view'
            GROUP BY user_id
          ) b ON b.user_id = a.user_id
        )
        SELECT u_exact,
               round(31.0 * {_HSD} / CAST(theta AS DOUBLE), 6) AS u_est,
               i_exact,
               round((CAST(m AS DOUBLE) / 32.0)
                     * (31.0 * {_HSD} / CAST(theta AS DOUBLE)), 6) AS i_est
        FROM eu CROSS JOIN ei CROSS JOIN theta CROSS JOIN mm""")


def q_target_encode(spark, sf_dir):
    """Leave-one-out target encoding of the customer nation key by
    account balance — the standard high-cardinality categorical
    encoder for tabular ML, with the row's own target excluded so
    the feature does not leak the label: enc_i =
    (group_sum - x_i) / (group_count - 1).  Cents are exact
    int64, the group moments come from ONE aggregation broadcast
    back (no window), each encode is a single division of
    identical int64 operands — emitted UNROUNDED because the IEEE
    quotient is bit-equal across engines while round-at-9 would
    re-introduce an engine-specific tie-break (the label_centroids
    lesson); nullif-guarded for singleton groups."""
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    base = c.select(
        "c_custkey", "c_nationkey", cents.alias("_c")
    )
    g = base.groupBy("c_nationkey").agg(
        F.sum("_c").cast("bigint").alias("_s"),
        F.count("*").cast("bigint").alias("_n"),
    )
    return base.join(F.broadcast(g), on="c_nationkey").select(
        F.col("c_custkey").cast("bigint").alias("custkey"),
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        F.col("_c").alias("acctbal_cents"),
        (
            (F.col("_s") - F.col("_c")).cast("double")
            / F.nullif((F.col("_n") - 1).cast("double"), F.lit(0.0))
        ).alias("loo_cents"),
    )


register("target_encode", q_target_encode, """
        WITH base AS (
          SELECT c_custkey, c_nationkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS c
          FROM customer
        ), g AS (
          SELECT c_nationkey,
                 CAST(sum(c) AS BIGINT) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM base GROUP BY c_nationkey
        )
        SELECT CAST(b.c_custkey AS BIGINT) AS custkey,
               CAST(b.c_nationkey AS BIGINT) AS nationkey,
               b.c AS acctbal_cents,
               CAST(g.s - b.c AS DOUBLE)
                 / nullif(CAST(g.n - 1 AS DOUBLE), 0.0) AS loo_cents
        FROM base b JOIN g USING (c_nationkey)""")


def q_weighted_median(spark, sf_dir):
    """Quantity-weighted median part size per brand: the smallest
    size whose doubled cumulative weight reaches the total (the
    exact weighted-median rule) — cumulative weights ride a
    broadcast inequality join over the bounded per-brand size
    domain, so membership is a pure int64 comparison (2*cum >=
    total cross-multiplied, no float CDF)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_brand",
        F.col("p_size").cast("bigint").alias("size"),
        F.round(F.col("l_quantity")).cast("bigint").alias("q"),
    )
    # three consumers (totals, both inequality-join sides) of the
    # bounded brand-size weight table; checkpoint so the fact join +
    # aggregate runs once
    w = j.groupBy("p_brand", "size").agg(
        F.sum("q").cast("bigint").alias("wt")
    ).localCheckpoint(eager=False)
    tot = w.groupBy("p_brand").agg(
        F.sum("wt").cast("bigint").alias("_tot")
    )
    b = w.select(
        F.col("p_brand").alias("_b"),
        F.col("size").alias("_bs"),
        F.col("wt").alias("_bw"),
    )
    cum = (
        w.join(
            F.broadcast(b),
            (F.col("_b") == F.col("p_brand"))
            & (F.col("_bs") <= F.col("size")),
        )
        .groupBy("p_brand", "size")
        .agg(F.sum("_bw").cast("bigint").alias("_cum"))
        .join(F.broadcast(tot), on="p_brand")
    )
    return (
        cum.filter(2 * F.col("_cum") >= F.col("_tot"))
        .groupBy("p_brand")
        .agg(
            F.min("size").cast("bigint").alias("wmedian_size"),
            F.max("_tot").cast("bigint").alias("total_qty"),
        )
    )


register("weighted_median", q_weighted_median, """
        WITH j AS (
          SELECT p_brand, CAST(p_size AS BIGINT) AS size,
                 CAST(round(l_quantity) AS BIGINT) AS q
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), w AS (
          SELECT p_brand, size, CAST(sum(q) AS BIGINT) AS wt
          FROM j GROUP BY p_brand, size
        ), tot AS (
          SELECT p_brand, CAST(sum(wt) AS BIGINT) AS tot FROM w
          GROUP BY p_brand
        ), cum AS (
          SELECT a.p_brand, a.size, CAST(sum(b.wt) AS BIGINT) AS cum
          FROM w a JOIN w b
            ON b.p_brand = a.p_brand AND b.size <= a.size
          GROUP BY a.p_brand, a.size
        )
        SELECT c.p_brand,
               CAST(min(c.size) AS BIGINT) AS wmedian_size,
               CAST(max(t.tot) AS BIGINT) AS total_qty
        FROM cum c JOIN tot t ON t.p_brand = c.p_brand
        WHERE 2 * c.cum >= t.tot
        GROUP BY c.p_brand""")


def q_ks_binned(spark, sf_dir):
    """Binned two-sample Kolmogorov-Smirnov distance between the
    purchase and view value distributions: 1024 equi-width cent
    bins, cumulative counts by broadcast inequality join, and the
    max CDF gap found by EXACT cross-multiplied integers
    (|cumA*nB - cumB*nA|) — no float CDF ever compared.  The D
    statistic divides once at the end; binning granularity is the
    documented approximation (exact KS needs a global sort)."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    binc = F.floor(
        (cents * 1024).cast("double") / F.lit(49003.0)
    ).cast("bigint")
    c = (
        e.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(binc.alias("bin"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("bigint").alias("ca"),
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).cast("bigint").alias("cb"),
        )
        # <=1024 bin rows, three consumers (totals, both cumulative
        # sides); checkpoint so the events pass runs once
        .localCheckpoint(eager=False)
    )
    tot = c.agg(
        F.sum("ca").cast("bigint").alias("_na"),
        F.sum("cb").cast("bigint").alias("_nb"),
    )
    b2 = c.select(
        F.col("bin").alias("_bb"),
        F.col("ca").alias("_ba"),
        F.col("cb").alias("_bc"),
    )
    cum = (
        c.join(F.broadcast(b2), F.col("_bb") <= F.col("bin"))
        .groupBy("bin")
        .agg(
            F.sum("_ba").cast("bigint").alias("_cuma"),
            F.sum("_bc").cast("bigint").alias("_cumb"),
        )
        .crossJoin(F.broadcast(tot))
    )
    gap = F.abs(
        F.col("_cuma") * F.col("_nb") - F.col("_cumb") * F.col("_na")
    ).cast("bigint")
    return (
        cum.select(
            "bin",
            gap.alias("_gap"),
            "_na",
            "_nb",
        )
        .orderBy(F.desc("_gap"), F.asc("bin"))
        .limit(1)
        .select(
            F.col("bin").alias("at_bin"),
            F.col("_na").alias("n_purchase"),
            F.col("_nb").alias("n_view"),
            F.round(
                F.col("_gap").cast("double")
                / (F.col("_na") * F.col("_nb")).cast("double"),
                9,
            ).alias("d_stat"),
        )
    )


register("ks_binned", q_ks_binned, """
        WITH c AS (
          SELECT CAST(floor(CAST(CAST(round(value * 100) AS BIGINT) * 1024
                                 AS DOUBLE) / 49003.0) AS BIGINT) AS bin,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                          END) AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                      AS BIGINT) AS cb
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND event_type IN ('purchase', 'view')
          GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb
          FROM c
        ), cum AS (
          SELECT a.bin, CAST(sum(b.ca) AS BIGINT) AS cuma,
                 CAST(sum(b.cb) AS BIGINT) AS cumb
          FROM c a JOIN c b ON b.bin <= a.bin
          GROUP BY a.bin
        )
        SELECT bin AS at_bin, na AS n_purchase, nb AS n_view,
               round(CAST(abs(cuma * nb - cumb * na) AS DOUBLE)
                     / CAST(na * nb AS DOUBLE), 9) AS d_stat
        FROM cum CROSS JOIN tot
        ORDER BY abs(cuma * nb - cumb * na) DESC, bin LIMIT 1""")


def q_robust_ab_test(spark, sf_dir):
    """Composed experimentation capstone: per-user spend totals ->
    MAD outlier exclusion (the outlier_mad fence over user totals)
    -> hash-split arms -> two-proportion z-test on the cleaned
    population — the robust readout pipeline an experimentation
    platform actually runs, pinned as one cross-operator plan.
    Exact cent totals, deterministic interpolated percentiles,
    and the mirrored IEEE z chain of ab_test_zscore."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    pu = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("value").isNotNull(), cents).otherwise(0))
        .cast("bigint")
        .alias("x"),
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            >= 14
        ).cast("bigint").alias("conv"),
    ).localCheckpoint(eager=False)
    # ^ checkpointed: the median, MAD, fence, and both count branches
    # all consume the per-user table and would each re-run the full
    # events scan + aggregate otherwise
    med = pu.agg(F.percentile(F.col("x"), F.lit(0.5)).alias("_med"))
    j = pu.crossJoin(F.broadcast(med))
    dev = F.abs(F.col("x").cast("double") - F.col("_med"))
    mad = j.agg(F.percentile(dev, F.lit(0.5)).alias("_mad"))
    j2 = j.crossJoin(F.broadcast(mad))
    kept = j2.filter(
        dev <= 3 * F.lit(1.4826) * F.col("_mad")
    ).withColumn(
        "arm",
        F.when(
            sampling.salted_hash(F.col("user_id"), "ab6")
            < sampling.HASH_SPACE // 2,
            "A",
        ).otherwise("B"),
    )
    tot = j2.agg(F.count("*").cast("bigint").alias("n_total"))
    s = kept.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == "A", F.col("conv")).otherwise(0))
        .cast("bigint").alias("conv_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == "B", F.col("conv")).otherwise(0))
        .cast("bigint").alias("conv_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("conv_a").cast("double") / na
    pb = F.col("conv_b").cast("double") / nb
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        (F.col("n_a") + F.col("n_b")).cast("double")
    )
    z = (pa - pb) / F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    return s.crossJoin(F.broadcast(tot)).select(
        "n_total",
        "n_kept",
        (F.col("n_total") - F.col("n_kept")).alias("n_excluded"),
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(z, 9).alias("z_score"),
    )


register("robust_ab_test", q_robust_ab_test, lambda: f"""
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CASE WHEN value IS NOT NULL
                               THEN CAST(round(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS x,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                          END) >= 14 AS BIGINT) AS conv
          FROM events WHERE user_id IS NOT NULL
          GROUP BY user_id
        ), med AS (SELECT quantile_cont(x, 0.5) AS med FROM pu),
        mad AS (
          SELECT quantile_cont(abs(CAST(x AS DOUBLE) - med), 0.5) AS mad
          FROM pu CROSS JOIN med
        ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pu),
        kept AS (
          SELECT pu.user_id, pu.conv,
                 CASE WHEN {_ab_h} < {_ab_half} THEN 'A' ELSE 'B' END AS arm
          FROM pu CROSS JOIN med CROSS JOIN mad
          WHERE abs(CAST(x AS DOUBLE) - med)
                <= 3 * CAST(1.4826 AS DOUBLE) * mad
        ), s AS (
          SELECT CAST(count(*) AS BIGINT) AS n_kept,
                 CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END)
                      AS BIGINT) AS conv_a,
                 CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
                 CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END)
                      AS BIGINT) AS conv_b
          FROM kept
        )
        SELECT n_total, n_kept,
               CAST(n_total - n_kept AS BIGINT) AS n_excluded,
               n_a, conv_a, n_b, conv_b,
               round(
                 (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                  - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                 / sqrt(
                     (CAST(conv_a + conv_b AS DOUBLE)
                      / CAST(n_a + n_b AS DOUBLE))
                     * (1 - CAST(conv_a + conv_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE))
                     * (1 / CAST(n_a AS DOUBLE) + 1 / CAST(n_b AS DOUBLE))
                   ), 9) AS z_score
        FROM s CROSS JOIN tot""")


def q_lorenz_deciles(spark, sf_dir):
    """Lorenz curve of user spend in deciles: decile membership
    from nine exact interpolated percentile cuts (a broadcast
    one-row join + nine comparisons — never a global ntile
    window), per-decile exact spend sums, and the cumulative
    share curve via an inequality join over the ten decile rows.
    The concentration picture behind source_gini's scalar."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    # the cut aggregate and the decile assignment both consume the
    # per-user table; checkpoint so the events pass runs once
    pu = e.groupBy("user_id").agg(
        F.sum(cents).cast("bigint").alias("x")
    ).localCheckpoint(eager=False)
    cuts = pu.agg(
        *[
            F.percentile(F.col("x"), F.lit(i / 10.0)).alias(f"_c{i}")
            for i in range(1, 10)
        ]
    )
    dec = F.lit(1)
    for i in range(1, 10):
        dec = dec + (F.col("x").cast("double") > F.col(f"_c{i}")).cast(
            "int"
        )
    per = (
        pu.crossJoin(F.broadcast(cuts))
        .select(dec.cast("bigint").alias("decile"), "x")
        .groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("x").cast("bigint").alias("spend_cents"),
        )
        # ten rows, three consumers (total, both cumulative sides)
        .localCheckpoint(eager=False)
    )
    tot = per.agg(F.sum("spend_cents").cast("bigint").alias("_tot"))
    b = per.select(
        F.col("decile").alias("_bd"),
        F.col("spend_cents").alias("_bs"),
    )
    return (
        per.join(F.broadcast(b), F.col("_bd") <= F.col("decile"))
        .groupBy("decile", "n_users", "spend_cents")
        .agg(F.sum("_bs").cast("bigint").alias("_cum"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "spend_cents",
            F.round(
                F.col("_cum").cast("double") / F.col("_tot").cast(
                    "double"
                ),
                9,
            ).alias("cum_share"),
        )
    )


register("lorenz_deciles", q_lorenz_deciles, """
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY user_id
        ), cuts AS (
          SELECT quantile_cont(x, 0.1) AS c1, quantile_cont(x, 0.2) AS c2,
                 quantile_cont(x, 0.3) AS c3, quantile_cont(x, 0.4) AS c4,
                 quantile_cont(x, 0.5) AS c5, quantile_cont(x, 0.6) AS c6,
                 quantile_cont(x, 0.7) AS c7, quantile_cont(x, 0.8) AS c8,
                 quantile_cont(x, 0.9) AS c9
          FROM pu
        ), per AS (
          SELECT CAST(1
                 + CAST(CAST(x AS DOUBLE) > c1 AS INT)
                 + CAST(CAST(x AS DOUBLE) > c2 AS INT)
                 + CAST(CAST(x AS DOUBLE) > c3 AS INT)
                 + CAST(CAST(x AS DOUBLE) > c4 AS INT)
                 + CAST(CAST(x AS DOUBLE) > c5 AS INT)
                 + CAST(CAST(x AS DOUBLE) > c6 AS INT)
                 + CAST(CAST(x AS DOUBLE) > c7 AS INT)
                 + CAST(CAST(x AS DOUBLE) > c8 AS INT)
                 + CAST(CAST(x AS DOUBLE) > c9 AS INT) AS BIGINT)
                   AS decile,
                 CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(x) AS BIGINT) AS spend_cents
          FROM pu CROSS JOIN cuts
          GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(spend_cents) AS BIGINT) AS tot FROM per
        )
        SELECT a.decile, a.n_users, a.spend_cents,
               round(CAST(sum(b.spend_cents) AS DOUBLE)
                     / CAST(max(tot.tot) AS DOUBLE), 9) AS cum_share
        FROM per a
        JOIN per b ON b.decile <= a.decile
        CROSS JOIN tot
        GROUP BY a.decile, a.n_users, a.spend_cents""")


def q_theil_index(spark, sf_dir):
    """Theil T inequality index of user spend — the decomposable
    entropy-based companion to the Gini: T = mean((x/mu) *
    ln(x/mu)).  Totals and counts are exact int64; mu is one
    divide; the per-user ln terms sum under the 9-digit round."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    pu = e.groupBy("user_id").agg(
        F.sum(cents).cast("bigint").alias("x")
    )
    m = pu.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("_s"),
    )
    mu = F.col("_s").cast("double") / F.col("n").cast("double")
    r = F.col("x").cast("double") / F.col("_mu")
    t = (
        pu.crossJoin(
            F.broadcast(m.select("n", mu.alias("_mu")))
        )
        .agg(
            F.max("n").alias("n_users"),
            F.round(F.max("_mu"), 9).alias("mean_cents"),
            F.round(
                F.sum(r * F.log(r)) / F.max("n").cast("double"), 9
            ).alias("theil_t"),
        )
    )
    return t


register("theil_index", q_theil_index, """
        WITH pu AS (
          SELECT user_id,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS x
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
          GROUP BY user_id
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS s
          FROM pu
        )
        SELECT CAST(max(n) AS BIGINT) AS n_users,
               round(max(CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 9)
                 AS mean_cents,
               round(sum((CAST(x AS DOUBLE)
                          / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
                         * ln(CAST(x AS DOUBLE)
                              / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))))
                     / CAST(max(n) AS DOUBLE), 9) AS theil_t
        FROM pu CROSS JOIN m""")


def q_ecdf_probes(spark, sf_dir):
    """Empirical CDF of event value evaluated at five fixed cent
    probes per event type — the calibration-table shape monitoring
    jobs export (is the p-leq-threshold share drifting?).  A
    broadcast probe list against per-type exact counts; one divide
    per cell."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    probes = spark.range(0, 5).select(
        (F.lit(1000) * F.pow(F.lit(2.0), F.col("id").cast("double")))
        .cast("bigint")
        .alias("probe")
    )
    r = e.select("event_type", cents.alias("c")).crossJoin(
        F.broadcast(probes)
    )
    return r.groupBy("event_type", "probe").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("c") <= F.col("probe")).cast("bigint"))
        .cast("bigint")
        .alias("n_leq"),
        F.round(
            F.sum((F.col("c") <= F.col("probe")).cast("bigint")).cast(
                "double"
            )
            / F.count("*").cast("double"),
            9,
        ).alias("ecdf"),
    )


register("ecdf_probes", q_ecdf_probes, """
        WITH probes AS (
          SELECT CAST(1000 * pow(2.0, CAST(i.i AS DOUBLE)) AS BIGINT)
                   AS probe
          FROM unnest(generate_series(0, 4)) AS i(i)
        ), r AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
                 probe
          FROM events CROSS JOIN probes
          WHERE user_id IS NOT NULL AND value IS NOT NULL
        )
        SELECT event_type, probe,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN c <= probe THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_leq,
               round(CAST(sum(CASE WHEN c <= probe THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
                 AS ecdf
        FROM r GROUP BY event_type, probe""")


def q_ship_delay_quantiles(spark, sf_dir):
    """Order-to-ship latency distribution per order priority: exact
    integer day lags through one FK join (the join the fanout
    audit just certified as clean 1:N), exact interpolated
    p50/p90/p99 per priority — the operational-SLA readout shape.
    The lag is a pure date difference; negative lags (data-quality
    signal) are counted rather than silently dropped."""
    li = _t(spark, sf_dir, "lineitem")
    o2 = _t(spark, sf_dir, "orders")
    lag = F.datediff(
        F.to_date(F.col("l_shipdate")), F.to_date(F.col("o_orderdate"))
    ).cast("bigint")
    j = li.join(o2, li.l_orderkey == o2.o_orderkey).select(
        "o_orderpriority", lag.alias("lag_days")
    )
    pct = F.percentile(
        F.col("lag_days"),
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum((F.col("lag_days") < 0).cast("bigint"))
        .cast("bigint")
        .alias("n_negative"),
        F.round(pct[0], 6).alias("p50_days"),
        F.round(pct[1], 6).alias("p90_days"),
        F.round(pct[2], 6).alias("p99_days"),
    )


register("ship_delay_quantiles", q_ship_delay_quantiles, """
        WITH j AS (
          SELECT o_orderpriority,
                 CAST(date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) AS BIGINT)
                   AS lag_days
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_negative,
               round(quantile_cont(lag_days, 0.5), 6) AS p50_days,
               round(quantile_cont(lag_days, 0.9), 6) AS p90_days,
               round(quantile_cont(lag_days, 0.99), 6) AS p99_days
        FROM j GROUP BY o_orderpriority""")


def q_mannwhitney_binned(spark, sf_dir):
    """Binned Mann-Whitney U between the purchase and view value
    distributions — the rank-sum complement to ks_binned (same 1024
    equi-width cent bins), asking "is one distribution
    stochastically larger" where KS asks "are they different
    anywhere".  The roc_auc_binned discipline end to end: ranks are
    unbounded at scale, so values bin onto a FIXED grid first and
    ties stay integer via doubled midranks (2R = 2*cum_before + t
    + 1); 2U and the tie-corrected variance pieces are exact int64
    (K = (n+1)n(n-1) - sum(t^3 - t)), and the AUC-equivalent
    U/(na*nb) and tie-corrected z each combine those exact integers
    in one closed-form double expression.  Returns one row
    (na, nb, two_u, sum_t3_t, auc, z)."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    binc = F.floor(
        (cents * 1024).cast("double") / F.lit(49003.0)
    ).cast("bigint")
    c = (
        e.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy(binc.alias("bin"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("bigint").alias("ca"),
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).cast("bigint").alias("cb"),
        )
        # <=1024 bin rows, consumed by totals + the cumulative side
        .localCheckpoint(eager=False)
    )
    tot = c.agg(
        F.sum("ca").cast("bigint").alias("_na"),
        F.sum("cb").cast("bigint").alias("_nb"),
    )
    b2 = c.select(
        F.col("bin").alias("_bb"),
        (F.col("ca") + F.col("cb")).alias("_bt"),
    )
    cum = (
        c.join(F.broadcast(b2), F.col("_bb") <= F.col("bin"))
        .groupBy("bin", "ca", "cb")
        .agg(F.sum("_bt").cast("bigint").alias("_cum_incl"))
    )
    t = F.col("ca") + F.col("cb")
    two_r = (F.col("_cum_incl") - t) * 2 + t + 1  # doubled midrank
    per_bin = cum.select(
        (F.col("ca") * two_r).cast("bigint").alias("_ra2"),
        ((t * t * t - t)).cast("bigint").alias("_t3t"),
    )
    s = per_bin.agg(
        F.sum("_ra2").cast("bigint").alias("_two_ra"),
        F.sum("_t3t").cast("bigint").alias("_sum_t3t"),
    ).crossJoin(F.broadcast(tot))
    na, nb = F.col("_na"), F.col("_nb")
    n = na + nb
    two_u = F.col("_two_ra") - na * (na + 1)
    kk = ((n + 1) * n * (n - 1) - F.col("_sum_t3t")).cast("double")
    var4 = (
        na.cast("double")
        * nb.cast("double")
        * kk
        / (F.lit(3.0) * n.cast("double") * (n - 1).cast("double"))
    )
    z = (two_u - na * nb).cast("double") / F.sqrt(var4)
    return s.select(
        na.alias("na"),
        nb.alias("nb"),
        two_u.cast("bigint").alias("two_u"),
        F.col("_sum_t3t").alias("sum_t3_t"),
        F.round(
            two_u.cast("double")
            / (F.lit(2.0) * na.cast("double") * nb.cast("double")),
            9,
        ).alias("auc"),
        F.round(z, 9).alias("z"),
    )


register("mannwhitney_binned", q_mannwhitney_binned, """
        WITH c AS (
          SELECT CAST(floor(CAST(CAST(round(value * 100) AS BIGINT) * 1024
                                 AS DOUBLE) / 49003.0) AS BIGINT) AS bin,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                          END) AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                      AS BIGINT) AS cb
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND event_type IN ('purchase', 'view')
          GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb
          FROM c
        ), cum AS (
          SELECT a.bin, a.ca, a.cb,
                 CAST(sum(b.ca + b.cb) AS BIGINT) AS cum_incl
          FROM c a JOIN c b ON b.bin <= a.bin
          GROUP BY a.bin, a.ca, a.cb
        ), s AS (
          SELECT CAST(sum(ca * ((cum_incl - (ca + cb)) * 2
                               + (ca + cb) + 1)) AS BIGINT) AS two_ra,
                 CAST(sum((ca + cb) * (ca + cb) * (ca + cb)
                          - (ca + cb)) AS BIGINT) AS sum_t3t
          FROM cum
        )
        SELECT na, nb,
               CAST(two_ra - na * (na + 1) AS BIGINT) AS two_u,
               sum_t3t AS sum_t3_t,
               round(CAST(two_ra - na * (na + 1) AS DOUBLE)
                     / (2.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)),
                     9) AS auc,
               round(CAST(two_ra - na * (na + 1) - na * nb AS DOUBLE)
                     / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                            * CAST((na + nb + 1) * (na + nb)
                                   * (na + nb - 1) - sum_t3t AS DOUBLE)
                            / (3.0 * CAST(na + nb AS DOUBLE)
                               * CAST(na + nb - 1 AS DOUBLE))), 9) AS z
        FROM s CROSS JOIN tot""")


def q_spearman_binned(spark, sf_dir):
    """Binned Spearman rank correlation between purchase value and
    hour of day — the monotone-association complement to
    value_hour_corr's Pearson (which sees only linear structure).
    Values bin onto the fixed 1024-cent grid, hours are already a
    24-bin grid; both coordinates become exact integer DOUBLED
    midranks via the broadcast cumulative trick, so every moment
    (Sx, Sy, Sxx, Syy, Sxy over 2R values) is an exact int64 sum
    and rho combines them in one closed-form double expression.
    Bounded-n contract: Sxy <= n*(2n)^2 caps n around 1.3e6 rows
    per gate before int64 overflow — per-segment use at 100 TB
    (the theilsen bounded-history class).  Returns one row."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("event_type") == "purchase")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    binc = F.floor(
        (cents * 1024).cast("double") / F.lit(49003.0)
    ).cast("bigint")
    rows = e.select(
        binc.alias("_bx"), F.hour("ts").cast("bigint").alias("_by")
    ).localCheckpoint(eager=False)

    def midranks(df, col):
        cnt = df.groupBy(F.col(col).alias("_b")).agg(
            F.count("*").cast("bigint").alias("_t")
        )
        c2 = cnt.select(
            F.col("_b").alias("_b2"), F.col("_t").alias("_t2")
        )
        return (
            cnt.join(F.broadcast(c2), F.col("_b2") <= F.col("_b"))
            .groupBy("_b", "_t")
            .agg(F.sum("_t2").cast("bigint").alias("_ci"))
            .select(
                F.col("_b"),
                ((F.col("_ci") - F.col("_t")) * 2 + F.col("_t") + 1)
                .cast("bigint")
                .alias("_r2"),
            )
        )
    rx = midranks(rows, "_bx").select(
        F.col("_b").alias("_bx"), F.col("_r2").alias("_rx")
    )
    ry = midranks(rows, "_by").select(
        F.col("_b").alias("_by"), F.col("_r2").alias("_ry")
    )
    j = rows.join(F.broadcast(rx), on="_bx").join(
        F.broadcast(ry), on="_by"
    )
    s = j.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("_rx").cast("bigint").alias("sum_rx"),
        F.sum("_ry").cast("bigint").alias("sum_ry"),
        F.sum(F.col("_rx") * F.col("_rx")).cast("bigint").alias("sum_rx2"),
        F.sum(F.col("_ry") * F.col("_ry")).cast("bigint").alias("sum_ry2"),
        F.sum(F.col("_rx") * F.col("_ry")).cast("bigint").alias("sum_rxy"),
    )
    nn = F.col("n").cast("double")
    sx, sy = F.col("sum_rx").cast("double"), F.col("sum_ry").cast("double")
    rho = (nn * F.col("sum_rxy").cast("double") - sx * sy) / (
        F.sqrt(nn * F.col("sum_rx2").cast("double") - sx * sx)
        * F.sqrt(nn * F.col("sum_ry2").cast("double") - sy * sy)
    )
    return s.select(
        "n", "sum_rx", "sum_ry", "sum_rx2", "sum_ry2", "sum_rxy",
        F.round(rho, 9).alias("rho"),
    )


register("spearman_binned", q_spearman_binned, """
        WITH r AS (
          SELECT CAST(floor(CAST(CAST(round(value * 100) AS BIGINT) * 1024
                                 AS DOUBLE) / 49003.0) AS BIGINT) AS bx,
                 CAST(hour(ts) AS BIGINT) AS bh
          FROM events
          WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND event_type = 'purchase'
        ), cx AS (
          SELECT bx, CAST(count(*) AS BIGINT) AS t FROM r GROUP BY bx
        ), rx AS (
          SELECT a.bx,
                 CAST((sum(b.t) - a.t) * 2 + a.t + 1 AS BIGINT) AS r2
          FROM cx a JOIN cx b ON b.bx <= a.bx
          GROUP BY a.bx, a.t
        ), cy AS (
          SELECT bh, CAST(count(*) AS BIGINT) AS t FROM r GROUP BY bh
        ), ry AS (
          SELECT a.bh,
                 CAST((sum(b.t) - a.t) * 2 + a.t + 1 AS BIGINT) AS r2
          FROM cy a JOIN cy b ON b.bh <= a.bh
          GROUP BY a.bh, a.t
        ), s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(rx.r2) AS BIGINT) AS sum_rx,
                 CAST(sum(ry.r2) AS BIGINT) AS sum_ry,
                 CAST(sum(rx.r2 * rx.r2) AS BIGINT) AS sum_rx2,
                 CAST(sum(ry.r2 * ry.r2) AS BIGINT) AS sum_ry2,
                 CAST(sum(rx.r2 * ry.r2) AS BIGINT) AS sum_rxy
          FROM r JOIN rx ON r.bx = rx.bx JOIN ry ON r.bh = ry.bh
        )
        SELECT n, sum_rx, sum_ry, sum_rx2, sum_ry2, sum_rxy,
               round((CAST(n AS DOUBLE) * CAST(sum_rxy AS DOUBLE)
                      - CAST(sum_rx AS DOUBLE) * CAST(sum_ry AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sum_rx2 AS DOUBLE)
                             - CAST(sum_rx AS DOUBLE)
                               * CAST(sum_rx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(sum_ry2 AS DOUBLE)
                               - CAST(sum_ry AS DOUBLE)
                                 * CAST(sum_ry AS DOUBLE))), 9) AS rho
        FROM s""")

_cm_cols = {
    "quantity": "CAST(round(l_quantity) AS BIGINT)",
    "price": "CAST(round(l_extendedprice * 100) AS BIGINT)",
    "discount": "CAST(round(l_discount * 100) AS BIGINT)",
    "tax": "CAST(round(l_tax * 100) AS BIGINT)",
}
_cm_names = list(_cm_cols)
_cm_sums = ["CAST(count(*) AS BIGINT) AS n"]
for _a in _cm_names:
    _cm_sums.append(f"sum({_cm_cols[_a]}) AS s_{_a}")
    _cm_sums.append(
        f"sum({_cm_cols[_a]} * {_cm_cols[_a]}) AS s_{_a}_{_a}"
    )
for _i, _a in enumerate(_cm_names):
    for _b in _cm_names[_i + 1:]:
        _cm_sums.append(
            f"sum({_cm_cols[_a]} * {_cm_cols[_b]}) AS s_{_a}_{_b}"
        )


def _cm_corr(a, b):
    return (
        f"round((CAST(n AS DOUBLE) * CAST(s_{a}_{b} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        f" / (sqrt(CAST(n AS DOUBLE) * CAST(s_{a}_{a} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        f" * sqrt(CAST(n AS DOUBLE) * CAST(s_{b}_{b} AS DOUBLE)"
        f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))), 9)"
    )


_cm_arms = " UNION ALL ".join(
    f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, {_cm_corr(a, b)} AS corr"
    f" FROM s"
    for i, a in enumerate(_cm_names)
    for b in _cm_names[i + 1:]
)


def q_corr_matrix(spark, sf_dir):
    """Exact-moment Pearson correlation matrix (upper triangle) of
    the four lineitem numerics in ONE pass — the multi-column
    feature-screening shape: every raw/product moment accumulates
    as an exact integer in cent units (DECIMAL(38,0) sums on the
    Spark side, HUGEINT in DuckDB, because sum(price_cents^2)
    overflows int64 at bench scale), so the sums are
    order-invariant where a float corr() matrix is not; each of the
    six correlations combines its exact moments in one closed-form
    double expression.  Returns 6 rows (col_a, col_b, n, corr)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = {
        "quantity": F.round(F.col("l_quantity")).cast("bigint"),
        "price": F.round(F.col("l_extendedprice") * 100).cast("bigint"),
        "discount": F.round(F.col("l_discount") * 100).cast("bigint"),
        "tax": F.round(F.col("l_tax") * 100).cast("bigint"),
    }
    names = list(cols)
    dec = "decimal(38,0)"
    aggs = [F.count("*").cast("bigint").alias("n")]
    for a in names:
        aggs.append(F.sum(cols[a].cast(dec)).alias(f"s_{a}"))
        aggs.append(
            F.sum((cols[a] * cols[a]).cast(dec)).alias(f"s_{a}_{a}")
        )
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            aggs.append(
                F.sum((cols[a] * cols[b]).cast(dec)).alias(f"s_{a}_{b}")
            )
    s = li.agg(*aggs)

    def corr(a, b):
        nn = F.col("n").cast("double")
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        return (nn * F.col(f"s_{a}_{b}").cast("double") - sa * sb) / (
            F.sqrt(nn * F.col(f"s_{a}_{a}").cast("double") - sa * sa)
            * F.sqrt(nn * F.col(f"s_{b}_{b}").cast("double") - sb * sb)
        )
    pairs = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.round(corr(a, b), 9).alias("corr"),
        )
        for i, a in enumerate(names)
        for b in names[i + 1:]
    ]
    return s.select(
        "n", F.explode(F.array(*pairs)).alias("_p")
    ).select("_p.col_a", "_p.col_b", "n", "_p.corr")


register("corr_matrix", q_corr_matrix, lambda: "WITH s AS (SELECT "
    + ", ".join(_cm_sums)
    + " FROM lineitem) "
    + _cm_arms)


def q_t_closeness(spark, sf_dir):
    """t-closeness per quasi-identifier group — the distributional
    privacy audit k-anonymity and l-diversity miss: a group can be
    large and diverse yet still leak if its sensitive-attribute
    distribution differs from the table's.  Sensitive attribute =
    the l_diversity 1000-unit acctbal band (ordered), distance =
    1-D earth-mover on the ordered bands: t = sum_j |cumP_j -
    cumQ_j| / (m-1).  Exact integers throughout: the numerator is
    sum_j |cum_g_j * N - cum_all_j * n_g| (cross-multiplied
    cumulative counts over the bounded band grid), one division at
    the end.  All joins are broadcast over <=125 groups x <=21
    bands.  Returns (nationkey, mktsegment, n_rows, emd_num, t)."""
    c = _t(spark, sf_dir, "customer")
    band = F.floor(
        (F.col("c_acctbal") + 10000.0) / F.lit(1000.0)
    ).cast("bigint")
    cell = (
        c.groupBy(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            band.alias("_band"),
        )
        .agg(F.count("*").cast("bigint").alias("_cnt"))
        # bounded (<=125*21 rows), consumed by every layer below
        .localCheckpoint(eager=False)
    )
    gtot = cell.groupBy("_band").agg(
        F.sum("_cnt").cast("bigint").alias("_nb")
    )
    nn = gtot.agg(
        F.sum("_nb").cast("bigint").alias("_N"),
        F.count("*").cast("bigint").alias("_m"),
    )
    grp = cell.groupBy("nationkey", "mktsegment").agg(
        F.sum("_cnt").cast("bigint").alias("_ng")
    )
    # dense (group x band) grid so cumulative sums carry across
    # bands the group lacks
    grid = grp.crossJoin(F.broadcast(gtot.select("_band")))
    dense = grid.join(cell, on=["nationkey", "mktsegment", "_band"], how="left").select(
        "nationkey",
        "mktsegment",
        "_band",
        "_ng",
        F.coalesce(F.col("_cnt"), F.lit(0)).cast("bigint").alias("_c"),
    )
    b2 = gtot.select(
        F.col("_band").alias("_b2"), F.col("_nb").alias("_nb2")
    )
    cum = (
        dense.join(F.broadcast(b2), F.col("_b2") <= F.col("_band"))
        .groupBy("nationkey", "mktsegment", "_band", "_ng")
        .agg(F.sum("_nb2").cast("bigint").alias("_cum_all"))
    )
    d2 = dense.select(
        "nationkey",
        "mktsegment",
        F.col("_band").alias("_b3"),
        F.col("_c").alias("_c3"),
    )
    cumg = (
        cum.join(
            F.broadcast(d2),
            (F.col("_b3") <= F.col("_band"))
            & (cum.nationkey == d2.nationkey)
            & (cum.mktsegment == d2.mktsegment),
        )
        .groupBy(cum.nationkey, cum.mktsegment, "_band", "_ng", "_cum_all")
        .agg(F.sum("_c3").cast("bigint").alias("_cum_g"))
    )
    term = F.abs(
        F.col("_cum_g") * F.col("_N") - F.col("_cum_all") * F.col("_ng")
    ).cast("bigint")
    return (
        cumg.crossJoin(F.broadcast(nn))
        .groupBy("nationkey", "mktsegment", "_ng", "_N", "_m")
        .agg(F.sum(term).cast("bigint").alias("emd_num"))
        .select(
            "nationkey",
            "mktsegment",
            F.col("_ng").alias("n_rows"),
            "emd_num",
            F.round(
                F.col("emd_num").cast("double")
                / (
                    F.col("_ng").cast("double")
                    * F.col("_N").cast("double")
                    * (F.col("_m") - 1).cast("double")
                ),
                9,
            ).alias("t"),
        )
    )


register("t_closeness", q_t_closeness, """
        WITH cell AS (
          SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                 c_mktsegment AS mktsegment,
                 CAST(floor((c_acctbal + CAST(10000 AS DOUBLE))
                            / CAST(1000 AS DOUBLE)) AS BIGINT) AS band,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM customer
          GROUP BY 1, 2, 3
        ), gtot AS (
          SELECT band, CAST(sum(cnt) AS BIGINT) AS nb
          FROM cell GROUP BY band
        ), nn AS (
          SELECT CAST(sum(nb) AS BIGINT) AS N,
                 CAST(count(*) AS BIGINT) AS m
          FROM gtot
        ), grp AS (
          SELECT nationkey, mktsegment, CAST(sum(cnt) AS BIGINT) AS ng
          FROM cell GROUP BY nationkey, mktsegment
        ), dense AS (
          SELECT g.nationkey, g.mktsegment, t.band, g.ng,
                 CAST(coalesce(c.cnt, 0) AS BIGINT) AS c
          FROM grp g
          CROSS JOIN (SELECT band FROM gtot) t
          LEFT JOIN cell c ON c.nationkey = g.nationkey
                          AND c.mktsegment = g.mktsegment
                          AND c.band = t.band
        ), cum AS (
          SELECT d.nationkey, d.mktsegment, d.band, d.ng,
                 CAST(sum(b2.nb) AS BIGINT) AS cum_all
          FROM dense d JOIN gtot b2 ON b2.band <= d.band
          GROUP BY d.nationkey, d.mktsegment, d.band, d.ng
        ), cumg AS (
          SELECT cum.nationkey, cum.mktsegment, cum.band, cum.ng,
                 cum.cum_all,
                 CAST(sum(d3.c) AS BIGINT) AS cum_g
          FROM cum JOIN dense d3
            ON d3.nationkey = cum.nationkey
           AND d3.mktsegment = cum.mktsegment
           AND d3.band <= cum.band
          GROUP BY cum.nationkey, cum.mktsegment, cum.band, cum.ng,
                   cum.cum_all
        )
        SELECT cumg.nationkey, cumg.mktsegment,
               cumg.ng AS n_rows,
               CAST(sum(abs(cum_g * nn.N - cum_all * cumg.ng)) AS BIGINT)
                 AS emd_num,
               round(CAST(sum(abs(cum_g * nn.N - cum_all * cumg.ng))
                          AS DOUBLE)
                     / (CAST(cumg.ng AS DOUBLE) * CAST(nn.N AS DOUBLE)
                        * CAST(nn.m - 1 AS DOUBLE)), 9) AS t
        FROM cumg CROSS JOIN nn
        GROUP BY cumg.nationkey, cumg.mktsegment, cumg.ng, nn.N, nn.m""")

_sm_ctes = ["""
        WITH s AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS to_type
          FROM events WHERE user_id IS NOT NULL
        ), t AS (
          SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          FROM s WHERE to_type IS NOT NULL
          GROUP BY from_type, to_type
        ), rt AS (
          SELECT from_type, CAST(sum(n) AS BIGINT) AS rt FROM t
          GROUP BY from_type
        ), trans AS (
          SELECT t.from_type, t.to_type, t.n, rt.rt
          FROM t JOIN rt ON rt.from_type = t.from_type
        ), p0 AS (
          SELECT DISTINCT from_type AS state,
                 CAST(200000000000 AS BIGINT) AS u
          FROM trans
        )"""]
for _i in range(1, 9):
    _sm_ctes.append(f""", p{_i} AS (
          SELECT trans.to_type AS state,
                 CAST(sum((p{_i-1}.u * trans.n) // trans.rt) AS BIGINT)
                   AS u
          FROM trans JOIN p{_i-1} ON trans.from_type = p{_i-1}.state
          GROUP BY trans.to_type
        )""")


def q_stationary_markov(spark, sf_dir):
    """Stationary distribution of the user-behavior Markov chain:
    8 unrolled power-iteration rounds over the (5x5) event-type
    transition matrix, ENTIRELY in integer arithmetic — pi lives in
    1e12 units and every term is (pi_i * c_ij) div r_i on provably
    non-negative int64 operands (Spark's truncating div == DuckDB's
    flooring //), so both engines replay every round bit-for-bit
    with no float anywhere (the pagerank discipline; flooring leaks
    < 5e-12 mass per round, deterministically).  The transition
    table is the one full events pass, checkpointed; each round is
    a 25-row broadcast join.  Returns (event_type, pi_units, pi)."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            F.col("event_type").alias("_from"),
            F.lead("event_type").over(w).alias("_to"),
        )
        .filter(F.col("_to").isNotNull())
        .groupBy("_from", "_to")
        .agg(F.count("*").cast("bigint").alias("_n"))
        .localCheckpoint(eager=False)
    )
    rt = t.groupBy("_from").agg(F.sum("_n").cast("bigint").alias("_rt"))
    trans = t.join(F.broadcast(rt), on="_from").localCheckpoint(
        eager=False
    )
    S = 10**12
    pi = trans.select("_from").distinct().select(
        F.col("_from").alias("_state"),
        F.lit(S // 5).cast("bigint").alias("_u"),
    )
    for _ in range(8):
        pi = (
            trans.join(
                F.broadcast(pi),
                trans._from == F.col("_state"),
            )
            .select(
                F.col("_to").alias("_state2"),
                F.expr("CAST((_u * _n) div _rt AS BIGINT)").alias("_c"),
            )
            .groupBy(F.col("_state2").alias("_state"))
            .agg(F.sum("_c").cast("bigint").alias("_u"))
        )
    return pi.select(
        F.col("_state").alias("event_type"),
        F.col("_u").alias("pi_units"),
        F.round(F.col("_u").cast("double") / F.lit(float(S)), 9).alias(
            "pi"
        ),
    )


register("stationary_markov", q_stationary_markov, lambda: "".join(_sm_ctes)
    + """
        SELECT state AS event_type, u AS pi_units,
               round(CAST(u AS DOUBLE) / 1e12, 9) AS pi
        FROM p8""")


def q_woe_encode(spark, sf_dir):
    """Weight-of-evidence encoding of (event_type, hour) against
    the high-value label (value > 50) — the credit-scoring-lineage
    categorical encoder that complements leave-one-out
    target_encode: woe = ln(smoothed positive share / smoothed
    negative share), +0.5 Laplace on each cell against
    +0.5*n_categories on each total.  Counts are exact int64 from
    ONE aggregation; the single ln per category is emitted
    UNROUNDED (identical operand order both engines -> bit-equal
    IEEE, the target_encode lesson)."""
    ev = _events(spark, sf_dir)
    g = (
        ev.select(
            "event_type",
            F.hour("ts").cast("bigint").alias("hr"),
            F.when(F.col("value") > 50.0, 1).otherwise(0).alias("_y"),
        )
        .groupBy("event_type", "hr")
        .agg(
            F.sum("_y").cast("bigint").alias("pos"),
            F.sum(1 - F.col("_y")).cast("bigint").alias("neg"),
        )
    )
    tot = g.agg(
        F.sum("pos").cast("bigint").alias("_pt"),
        F.sum("neg").cast("bigint").alias("_nt"),
        F.count("*").cast("bigint").alias("_c"),
    )
    half_c = F.lit(0.5) * F.col("_c").cast("double")
    return g.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "hr",
        "pos",
        "neg",
        F.ln(
            (
                (F.col("pos").cast("double") + F.lit(0.5))
                / (F.col("_pt").cast("double") + half_c)
            )
            / (
                (F.col("neg").cast("double") + F.lit(0.5))
                / (F.col("_nt").cast("double") + half_c)
            )
        ).alias("woe"),
    )


register("woe_encode", q_woe_encode, """
        WITH g AS (
          SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
                 CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS pos,
                 CAST(sum(CASE WHEN value > 50.0 THEN 0 ELSE 1 END)
                   AS BIGINT) AS neg
          FROM events GROUP BY 1, 2
        ), tot AS (
          SELECT CAST(sum(pos) AS BIGINT) AS pt,
                 CAST(sum(neg) AS BIGINT) AS nt,
                 CAST(count(*) AS BIGINT) AS c
          FROM g
        )
        SELECT event_type, hr, pos, neg,
               ln(((CAST(pos AS DOUBLE) + 0.5)
                   / (CAST(pt AS DOUBLE) + 0.5 * CAST(c AS DOUBLE)))
                  / ((CAST(neg AS DOUBLE) + 0.5)
                     / (CAST(nt AS DOUBLE) + 0.5 * CAST(c AS DOUBLE))))
                 AS woe
        FROM g, tot
    """)


def q_isotonic_calibration(spark, sf_dir):
    """Isotonic regression of the high-value rate over hour-of-day
    via the MINIMAX formulation iso(i) = max_{l<=i} min_{j>=i}
    mean(l..j) — exactly the pool-adjacent-violators fit
    (Robertson/Wright/Dykstra 1988, Thm 1.4.4) but expressed as
    bounded joins instead of the inherently sequential PAVA loop:
    the 24 hour bins come from ONE events aggregation, segment
    means over the 24*25/2 = 300 (l, j) ranges and the minimax
    reduce over them are joins of 24-row broadcast dims, and every
    value is an exact int64 (segment means quantized to 1e-9
    units with DIV before the min/max lattice, so both engines
    compare identical integers).  The monotone-calibration step a
    reliability pipeline runs after nb_calibration's binning."""
    ev = _events(spark, sf_dir)
    # the 24-row bin table feeds FOUR consumers (l/j/m dims + the
    # final join) — checkpoint it so events is aggregated once,
    # not five times (the recompute class the plan sweep hunts)
    bins = (
        ev.groupBy(F.hour("ts").cast("bigint").alias("hr"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("value") > 50.0, 1).otherwise(0))
            .cast("bigint")
            .alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    bl = bins.select(F.col("hr").alias("l"))
    bj = bins.select(F.col("hr").alias("j"))
    bm = bins.select(F.col("hr").alias("m"), "n", "s")
    segs = (
        bl.join(F.broadcast(bj), F.col("l") <= F.col("j"))
        .join(
            F.broadcast(bm),
            (F.col("m") >= F.col("l")) & (F.col("m") <= F.col("j")),
        )
        .groupBy("l", "j")
        .agg(
            F.sum("s").cast("bigint").alias("_ss"),
            F.sum("n").cast("bigint").alias("_sn"),
        )
        .select(
            "l", "j", F.expr("(_ss * 1000000000) DIV _sn").alias("_mu")
        )
    )
    bi = bins.select(F.col("hr").alias("i"))
    iso = (
        segs.join(
            F.broadcast(bi),
            (F.col("l") <= F.col("i")) & (F.col("j") >= F.col("i")),
        )
        .groupBy("i", "l")
        .agg(F.min("_mu").alias("_mn"))
        .groupBy("i")
        .agg(F.max("_mn").cast("bigint").alias("iso_units"))
    )
    return bins.join(iso, bins.hr == iso.i).select(
        "hr",
        "n",
        "s",
        F.expr("(s * 1000000000) DIV n").alias("rate_units"),
        "iso_units",
    )


register("isotonic_calibration", q_isotonic_calibration, """
        WITH bins AS (
          SELECT CAST(hour(ts) AS BIGINT) AS hr,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS s
          FROM events GROUP BY 1
        ), segs AS (
          SELECT l.hr AS l, j.hr AS j,
                 (sum(m.s) * 1000000000) // sum(m.n) AS mu
          FROM bins l
          JOIN bins j ON l.hr <= j.hr
          JOIN bins m ON m.hr BETWEEN l.hr AND j.hr
          GROUP BY 1, 2
        ), inner_min AS (
          SELECT i.hr AS i, sg.l, min(sg.mu) AS mn
          FROM bins i
          JOIN segs sg ON sg.l <= i.hr AND sg.j >= i.hr
          GROUP BY 1, 2
        ), iso AS (
          SELECT i, CAST(max(mn) AS BIGINT) AS iso_units
          FROM inner_min GROUP BY i
        )
        SELECT b.hr, b.n, b.s,
               CAST((b.s * 1000000000) // b.n AS BIGINT) AS rate_units,
               iso.iso_units
        FROM bins b JOIN iso ON iso.i = b.hr
    """)


def q_sprt_ab(spark, sf_dir):
    """Wald's sequential probability-ratio test (1945) per day over
    the time-ordered purchase stream: H1 'high-value share is 0.6'
    vs H0 '0.5', alpha = beta = 0.05.  Each trial adds ln(1.2) or
    ln(0.8) to the log-likelihood ratio; the day decides at the
    first crossing of +/-ln(19).  The increments are the two
    CONSTANTS quantized driver-side to integer 1e-9 units (the
    fir-taps pattern: identical literals embedded in both engines),
    so the running sum is an exact int64 cumulative window and the
    first-crossing argmin is deterministic (rn is unique on
    (ts, event_id)).  The early-stopping experiment monitor that
    complements the fixed-horizon ab_test_zscore."""
    A, B, TH = 182321557, -223143551, 2944438979
    base = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            F.when(F.col("value") > 50.0, F.lit(A))
            .otherwise(F.lit(B))
            .alias("_inc"),
        )
    )
    w = W.partitionBy("day").orderBy("ts", "event_id")
    r = base.select(
        "day",
        F.row_number().over(w).alias("rn"),
        F.sum("_inc")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("llr"),
    )
    crossed = (
        r.filter((F.col("llr") >= TH) | (F.col("llr") <= -TH))
        .groupBy("day")
        .agg(
            F.min("rn").cast("bigint").alias("n_decide"),
            F.expr("min_by(llr, rn)").alias("_llr_at"),
        )
    )
    totals = base.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_trials")
    )
    # chained whens, NOT when/otherwise: a day with no crossing has
    # NULL _llr_at, and otherwise('accept_h0') would swallow it
    return totals.join(crossed, "day", "left").select(
        "day",
        "n_trials",
        F.when(F.col("_llr_at") >= TH, F.lit("accept_h1"))
        .when(F.col("_llr_at") <= -TH, F.lit("accept_h0"))
        .otherwise(F.lit("inconclusive"))
        .alias("decision"),
        "n_decide",
    )


register("sprt_ab", q_sprt_ab, """
        WITH base AS (
          SELECT CAST(ts AS DATE) AS day, ts, event_id,
                 CASE WHEN value > 50.0 THEN 182321557
                      ELSE -223143551 END AS inc
          FROM events WHERE event_type = 'purchase'
        ), r AS (
          SELECT day,
                 row_number() OVER (PARTITION BY day
                   ORDER BY ts, event_id) AS rn,
                 sum(inc) OVER (PARTITION BY day ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS llr
          FROM base
        ), crossed AS (
          SELECT day, CAST(min(rn) AS BIGINT) AS n_decide,
                 min_by(llr, rn) AS llr_at
          FROM r WHERE llr >= 2944438979 OR llr <= -2944438979
          GROUP BY day
        ), totals AS (
          SELECT day, CAST(count(*) AS BIGINT) AS n_trials
          FROM base GROUP BY day
        )
        SELECT t.day, t.n_trials,
               CASE WHEN c.llr_at >= 2944438979 THEN 'accept_h1'
                    WHEN c.llr_at <= -2944438979 THEN 'accept_h0'
                    ELSE 'inconclusive' END AS decision,
               c.n_decide
        FROM totals t LEFT JOIN crossed c ON c.day = t.day
    """)


def q_stratified_ate(spark, sf_dir):
    """Stratified average-treatment-effect estimation (coarsened
    exact matching / propensity stratification, Rosenbaum & Rubin
    1983 family): units are customers, treatment is the
    deterministic c_custkey parity, outcome is lifetime order
    value in exact cents (left join to orders, 0 when none), and
    strata are the (nationkey, mktsegment) covariate cells —
    the estimator compares arms only WITHIN a cell, then
    size-weights cell effects into the overall ATE.

    Exactness: per-cell arm sums/counts are exact int64; each arm
    mean is one IEEE division (bit-equal, emitted unrounded); the
    cross-cell ATE uses the quantize-then-aggregate house style —
    per-cell units round((1e6 * n * (St*nc - Sc*nt)) / (nt*nc))
    sum as exact integers, ONE final division scales — so no
    order-dependent float summation.  Cells missing an arm are
    excluded from both the table and the weight mass (standard
    common-support trimming).  Scale shape: one join-aggregate to
    get outcomes, one cell aggregation, a broadcast of ~|cells|
    rows; nothing quadratic."""
    c = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    spend = od.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("_y")
    )
    units = (
        c.join(spend, c.c_custkey == spend.o_custkey, "left")
        .select(
            F.col("c_nationkey").cast("bigint").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            (F.col("c_custkey") % 2 == 0).cast("int").alias("_t"),
            F.coalesce("_y", F.lit(0)).cast("bigint").alias("_y"),
        )
    )
    cells = (
        units.groupBy("nationkey", "mktsegment")
        .agg(
            F.sum(F.when(F.col("_t") == 1, F.col("_y")))
            .cast("bigint")
            .alias("_st"),
            F.count(F.when(F.col("_t") == 1, F.lit(1)))
            .cast("bigint")
            .alias("n_treated"),
            F.sum(F.when(F.col("_t") == 0, F.col("_y")))
            .cast("bigint")
            .alias("_sc"),
            F.count(F.when(F.col("_t") == 0, F.lit(1)))
            .cast("bigint")
            .alias("n_control"),
        )
        .filter(
            (F.col("n_treated") > 0) & (F.col("n_control") > 0)
        )
        .localCheckpoint(eager=False)  # table + ATE consumers
    )
    n_cell = (F.col("n_treated") + F.col("n_control")).cast("bigint")
    # exact integer per-cell term: sign * (abs div) is spelled out
    # because Spark div truncates while DuckDB // floors (the
    # pca_power_iteration precedent); operands are DECIMAL(38,0),
    # the quotient provably fits int64
    term_units = cells.select(
        n_cell.alias("_n"),
        F.expr(
            "CAST(1000000 AS DECIMAL(38,0))"
            " * (n_treated + n_control)"
            " * (CAST(_st AS DECIMAL(38,0)) * n_control"
            "    - CAST(_sc AS DECIMAL(38,0)) * n_treated)"
        ).alias("_x"),
        F.expr(
            "CAST(n_treated AS DECIMAL(38,0)) * n_control"
        ).alias("_d"),
    ).select(
        "_n",
        F.expr(
            "CASE WHEN _x < 0 THEN"
            " -CAST((-_x) div _d AS BIGINT)"
            " ELSE CAST(_x div _d AS BIGINT) END"
        ).alias("_u"),
    )
    ate = term_units.agg(
        (
            F.sum("_u").cast("double")
            / (F.sum("_n").cast("double") * 1e6)
        ).alias("ate_cents")
    )
    return cells.crossJoin(F.broadcast(ate)).select(
        "nationkey",
        "mktsegment",
        "n_treated",
        "n_control",
        (F.col("_st").cast("double") / F.col("n_treated").cast("double"))
        .alias("mean_treated_cents"),
        (F.col("_sc").cast("double") / F.col("n_control").cast("double"))
        .alias("mean_control_cents"),
        "ate_cents",
    )


register("stratified_ate", q_stratified_ate, """
        WITH spend AS (
          SELECT o_custkey,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM orders GROUP BY o_custkey
        ), units AS (
          SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
                 c_mktsegment AS mktsegment,
                 CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS t,
                 CAST(coalesce(y, 0) AS BIGINT) AS y
          FROM customer LEFT JOIN spend ON c_custkey = o_custkey
        ), cells AS MATERIALIZED (
          SELECT nationkey, mktsegment,
                 CAST(sum(CASE WHEN t = 1 THEN y END) AS BIGINT) AS st,
                 CAST(count(CASE WHEN t = 1 THEN 1 END) AS BIGINT)
                   AS n_treated,
                 CAST(sum(CASE WHEN t = 0 THEN y END) AS BIGINT) AS sc,
                 CAST(count(CASE WHEN t = 0 THEN 1 END) AS BIGINT)
                   AS n_control
          FROM units GROUP BY nationkey, mktsegment
          HAVING n_treated > 0 AND n_control > 0
        ), terms AS (
          SELECT n_treated + n_control AS n,
                 CAST(1000000 AS HUGEINT) * (n_treated + n_control)
                   * (CAST(st AS HUGEINT) * n_control
                      - CAST(sc AS HUGEINT) * n_treated) AS x,
                 CAST(n_treated AS HUGEINT) * n_control AS d
          FROM cells
        ), ate AS (
          SELECT CAST(sum(CASE WHEN x < 0
                          THEN -CAST((-x) // d AS BIGINT)
                          ELSE CAST(x // d AS BIGINT) END) AS DOUBLE)
                 / (CAST(sum(n) AS DOUBLE) * 1e6) AS ate_cents
          FROM terms
        )
        SELECT nationkey, mktsegment, n_treated, n_control,
               CAST(st AS DOUBLE) / CAST(n_treated AS DOUBLE)
                 AS mean_treated_cents,
               CAST(sc AS DOUBLE) / CAST(n_control AS DOUBLE)
                 AS mean_control_cents,
               ate_cents
        FROM cells, ate
    """)


def q_ols_by_type(spark, sf_dir):
    """Per-group ordinary-least-squares trend: slope and intercept
    of value vs time for each event type, from EXACT integer
    moments — the grouped linear-feature complement of the robust
    `theilsen_slope`.  Times shift to micros past the global min
    (one scalar broadcast; keeps t^2 sums ~1e28, far inside
    DECIMAL(38,0)/HUGEINT), values quantize to 1e-6 units, the
    five moments (n, St, Sv, Stv, Stt) accumulate as
    DECIMAL(38,0)/HUGEINT with casts BEFORE every product, and
    slope/intercept are single IEEE divisions of identical
    operands — bit-equal under any partitioning."""
    e = _events(spark, sf_dir)
    t0 = e.agg(F.min(F.unix_micros("ts")).alias("_t0"))
    dec = "decimal(38,0)"
    base = e.crossJoin(F.broadcast(t0)).select(
        "event_type",
        (F.unix_micros("ts") - F.col("_t0"))
        .cast("bigint")
        .alias("_t"),
        F.round(F.col("value") * 1_000_000)
        .cast("bigint")
        .alias("_v"),
    )
    mom = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("_t").cast(dec)).alias("_st"),
        F.sum(F.col("_v").cast(dec)).alias("_sv"),
        F.sum((F.col("_t").cast(dec) * F.col("_v")).cast(dec)).alias(
            "_stv"
        ),
        F.sum((F.col("_t").cast(dec) * F.col("_t")).cast(dec)).alias(
            "_stt"
        ),
    )
    num = (
        F.col("n").cast(dec) * F.col("_stv")
        - F.col("_st") * F.col("_sv")
    ).cast("double")
    den = (
        F.col("n").cast(dec) * F.col("_stt")
        - F.col("_st") * F.col("_st")
    ).cast("double")
    slope = num / den
    intercept = (
        F.col("_sv").cast("double")
        - slope * F.col("_st").cast("double")
    ) / F.col("n").cast("double")
    return mom.select(
        "event_type",
        "n",
        slope.alias("slope_units_per_us"),
        intercept.alias("intercept_units"),
    )


register("ols_by_type", q_ols_by_type, """
        WITH t0 AS (
          SELECT min(epoch_us(ts)) AS t0 FROM events
        ), base AS (
          SELECT event_type,
                 CAST(epoch_us(ts) - t0 AS BIGINT) AS t,
                 CAST(round(value * 1000000) AS BIGINT) AS v
          FROM events, t0
        ), mom AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(t AS HUGEINT)) AS st,
                 sum(CAST(v AS HUGEINT)) AS sv,
                 sum(CAST(t AS HUGEINT) * v) AS stv,
                 sum(CAST(t AS HUGEINT) * t) AS stt
          FROM base GROUP BY event_type
        )
        SELECT event_type, n,
               CAST(CAST(n AS HUGEINT) * stv - st * sv AS DOUBLE)
                 / CAST(CAST(n AS HUGEINT) * stt - st * st AS DOUBLE)
                 AS slope_units_per_us,
               (CAST(sv AS DOUBLE)
                - (CAST(CAST(n AS HUGEINT) * stv - st * sv AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * stt - st * st AS DOUBLE))
                  * CAST(st AS DOUBLE))
                 / CAST(n AS DOUBLE) AS intercept_units
        FROM mom
    """)


def q_cusum_by_type(spark, sf_dir):
    """Exact one-sided CUSUM change detection (Page 1954) per
    event type: S_t = max(0, S_{t-1} + (x_t - mean)), computed in
    CLOSED FORM as P_t - min(0, running_min(P)) where P is the
    prefix sum of deviations — the prefix-reset identity, so the
    sequential recurrence becomes two stacked windows over one
    type-keyed exchange.  Deviations scale by n (dev = n*x_cents -
    sum_cents) to stay exact integers with no float mean; sums run
    as DECIMAL(38,0)/HUGEINT.  Returns per type the peak scaled
    CUSUM, the first event attaining it (earliest (ts, event_id)),
    and the count of above-zero rows — the change-point report."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = e.select(
        "event_id", "ts", "event_type", cents.alias("_c")
    ).localCheckpoint(eager=False)  # two consumers: tot + d
    tot = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(F.col("_c").cast(dec)).alias("_sv"),
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    d = (
        base.join(F.broadcast(tot), on="event_type")
        .select(
            "event_type",
            "event_id",
            "ts",
            (
                (F.col("_c").cast(dec) * F.col("_n")).cast(dec)
                - F.col("_sv")
            ).alias("_dev"),
        )
        .withColumn("_p", F.sum("_dev").over(w).cast(dec))
    )
    wmin = W.partitionBy("event_type").orderBy("ts", "event_id")
    s = d.withColumn(
        "_s",
        (
            F.col("_p")
            - F.least(F.lit(0).cast(dec), F.min("_p").over(wmin))
        ).cast(dec),
    ).localCheckpoint(eager=False)  # two consumers: peak + join-back
    peak = s.groupBy("event_type").agg(
        F.max("_s").alias("peak_s"),
        F.sum(
            F.when(F.col("_s") > 0, 1).otherwise(0)
        ).cast("bigint").alias("n_above"),
    )
    first = (
        s.join(F.broadcast(peak), on="event_type")
        .filter(F.col("_s") == F.col("peak_s"))
        .groupBy("event_type")
        .agg(
            F.min(F.struct("ts", "event_id")).alias("_f"),
        )
        .select(
            "event_type", F.col("_f.event_id").alias("peak_event_id")
        )
    )
    return (
        peak.join(first, on="event_type")
        .select("event_type", "peak_s", "peak_event_id", "n_above")
    )


register("cusum_by_type", q_cusum_by_type, """
        WITH base AS MATERIALIZED (
          SELECT event_id, ts, event_type,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL
        ), tot AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(c AS HUGEINT)) AS sv
          FROM base GROUP BY 1
        ), d AS (
          SELECT b.event_type, b.event_id, b.ts,
                 CAST(b.c AS HUGEINT) * t.n - t.sv AS dev
          FROM base b JOIN tot t USING (event_type)
        ), p AS (
          SELECT *, sum(dev) OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id) AS pp
          FROM d
        ), s AS MATERIALIZED (
          SELECT *,
                 pp - least(CAST(0 AS HUGEINT),
                            min(pp) OVER (PARTITION BY event_type
                                          ORDER BY ts, event_id)) AS ss
          FROM p
        ), peak AS (
          SELECT event_type,
                 CAST(max(ss) AS DECIMAL(38,0)) AS peak_s,
                 CAST(sum(CASE WHEN ss > 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_above
          FROM s GROUP BY 1
        ), first AS (
          SELECT event_type, event_id AS peak_event_id FROM (
            SELECT s.event_type, s.event_id,
                   row_number() OVER (PARTITION BY s.event_type
                                      ORDER BY s.ts, s.event_id) AS rn
            FROM s JOIN peak USING (event_type)
            WHERE CAST(s.ss AS DECIMAL(38,0)) = peak.peak_s
          ) WHERE rn = 1
        )
        SELECT peak.event_type, peak.peak_s, first.peak_event_id,
               peak.n_above
        FROM peak JOIN first USING (event_type)
    """,
    casts={
        "event_type": None, "peak_s": "bigint", "peak_event_id": None,
        "n_above": None,
    })


def q_did_by_type(spark, sf_dir):
    """Difference-in-differences estimator (Card & Krueger 1994
    design) per event type: treatment = even user_id
    (deterministic), period split at the exact midpoint of the
    observed time range via the subtraction form (ts - t0) <
    (t1 - ts) — no doubling, no overflow, and scale-invariant so
    the engine's bigint-nanos comparison and the oracle's
    native-timestamp interval comparison decide identically.
    Cell moments (n, sum_cents) are exact integers; the four cell
    means and DiD = (T_post - T_pre) - (C_post - C_pre) are one
    mirrored float chain per output row, each mean guarded by
    nullif(n, 0).  The panel-causal complement to stratified_ate
    (cross-sectional matching) and cuped_adjust (variance
    reduction)."""
    e = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    dec = "decimal(38,0)"
    rng = e.agg(
        F.min("ts").alias("_t0"), F.max("ts").alias("_t1")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = e.crossJoin(F.broadcast(rng)).select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("_treat"),
        (
            (F.col("ts") - F.col("_t0"))
            < (F.col("_t1") - F.col("ts"))
        ).alias("_pre"),
        cents.alias("_c"),
    )
    cell = lambda t, p: (  # noqa: E731 — paired conditional aggs
        F.sum(
            F.when(
                (F.col("_treat") == t) & (F.col("_pre") == p),
                F.col("_c"),
            ).otherwise(0).cast(dec)
        ),
        F.sum(
            F.when(
                (F.col("_treat") == t) & (F.col("_pre") == p), 1
            ).otherwise(0).cast("bigint")
        ),
    )
    stp, ntp = cell(True, False)
    stq, ntq = cell(True, True)
    scp, ncp = cell(False, False)
    scq, ncq = cell(False, True)
    agg = base.groupBy("event_type").agg(
        stp.alias("_stp"), ntp.alias("n_t_post"),
        stq.alias("_stq"), ntq.alias("n_t_pre"),
        scp.alias("_scp"), ncp.alias("n_c_post"),
        scq.alias("_scq"), ncq.alias("n_c_pre"),
    )
    mean = lambda s, n: (  # noqa: E731
        F.col(s).cast("double")
        / F.nullif(F.col(n), F.lit(0)).cast("double")
    )
    did = (
        mean("_stp", "n_t_post") - mean("_stq", "n_t_pre")
    ) - (mean("_scp", "n_c_post") - mean("_scq", "n_c_pre"))
    return agg.select(
        "event_type",
        "n_t_pre", "n_t_post", "n_c_pre", "n_c_post",
        did.alias("did_cents"),
    )


register("did_by_type", q_did_by_type, """
        WITH rng AS (
          SELECT min(ts) AS t0, max(ts) AS t1
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
        ), base AS (
          SELECT event_type,
                 (user_id % 2 = 0) AS treat,
                 ((ts - t0) < (t1 - ts)) AS pre,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events, rng
          WHERE value IS NOT NULL AND user_id IS NOT NULL
        ), agg AS (
          SELECT event_type,
                 sum(CASE WHEN treat AND NOT pre
                          THEN CAST(c AS HUGEINT) ELSE 0 END) AS stp,
                 CAST(sum(CASE WHEN treat AND NOT pre THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_t_post,
                 sum(CASE WHEN treat AND pre
                          THEN CAST(c AS HUGEINT) ELSE 0 END) AS stq,
                 CAST(sum(CASE WHEN treat AND pre THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_t_pre,
                 sum(CASE WHEN NOT treat AND NOT pre
                          THEN CAST(c AS HUGEINT) ELSE 0 END) AS scp,
                 CAST(sum(CASE WHEN NOT treat AND NOT pre THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_c_post,
                 sum(CASE WHEN NOT treat AND pre
                          THEN CAST(c AS HUGEINT) ELSE 0 END) AS scq,
                 CAST(sum(CASE WHEN NOT treat AND pre THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_c_pre
          FROM base GROUP BY 1
        )
        SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
               (CAST(stp AS DOUBLE) / CAST(nullif(n_t_post, 0) AS DOUBLE)
                - CAST(stq AS DOUBLE) / CAST(nullif(n_t_pre, 0) AS DOUBLE))
               - (CAST(scp AS DOUBLE) / CAST(nullif(n_c_post, 0) AS DOUBLE)
                  - CAST(scq AS DOUBLE) / CAST(nullif(n_c_pre, 0) AS DOUBLE))
                 AS did_cents
        FROM agg
    """)


def q_ipw_ate(spark, sf_dir):
    """Inverse-propensity-weighted ATE (Horvitz-Thompson form)
    with the propensity estimated per stratum from the data
    itself: treatment = even user_id, stratum = event_type,
    e(s) = n_t(s)/n(s), so the per-stratum IPW contribution
    collapses to the exact rational S_t(s)*n(s)/n_t(s) -
    S_c(s)*n(s)/n_c(s).  Each stratum term is two IEEE
    divisions/products on exact integer moments, quantized to
    integer micro-cent units (round) so any cross-stratum
    aggregation downstream is order-invariant — the house
    quantize-before-sum style.  Strata with a missing arm report
    NULL (nullif guard), mirroring did_by_type.  Completes the
    causal family: stratified_ate (matching), did_by_type
    (panel), ipw_ate (weighting)."""
    e = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = e.select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("_treat"),
        cents.alias("_c"),
    )
    agg = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.when(F.col("_treat"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_t"),
        F.sum(
            F.when(F.col("_treat"), F.col("_c")).otherwise(0).cast(dec)
        ).alias("_st"),
        F.sum(
            F.when(~F.col("_treat"), F.col("_c")).otherwise(0).cast(dec)
        ).alias("_sc"),
    )
    n_c = F.col("n") - F.col("n_t")
    term = (
        F.col("_st").cast("double")
        * F.col("n").cast("double")
        / F.nullif(F.col("n_t"), F.lit(0)).cast("double")
        - F.col("_sc").cast("double")
        * F.col("n").cast("double")
        / F.nullif(n_c, F.lit(0)).cast("double")
    )
    per_stratum = agg.select(
        "n",
        F.round(term).cast(dec).alias("_u"),  # cents*count units
    )
    return per_stratum.agg(
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("_u").cast(dec).alias("ate_num_units"),
        (
            F.sum("_u").cast("double")
            / F.sum("n").cast("double")
        ).alias("ate_cents"),
    )


register("ipw_ate", q_ipw_ate, """
        WITH base AS (
          SELECT event_type,
                 (user_id % 2 = 0) AS treat,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL
        ), agg AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_t,
                 sum(CASE WHEN treat THEN CAST(c AS HUGEINT)
                          ELSE 0 END) AS st,
                 sum(CASE WHEN NOT treat THEN CAST(c AS HUGEINT)
                          ELSE 0 END) AS sc
          FROM base GROUP BY 1
        ), per AS (
          SELECT n,
                 CAST(round(
                   CAST(st AS DOUBLE) * CAST(n AS DOUBLE)
                     / CAST(nullif(n_t, 0) AS DOUBLE)
                   - CAST(sc AS DOUBLE) * CAST(n AS DOUBLE)
                     / CAST(nullif(n - n_t, 0) AS DOUBLE)
                 ) AS HUGEINT) AS u
          FROM agg
        )
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(u) AS DECIMAL(38,0)) AS ate_num_units,
               CAST(sum(u) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                 AS ate_cents
        FROM per
    """,
    casts={"n_total": None, "ate_num_units": "bigint", "ate_cents": None})


def q_logrank_test(spark, sf_dir):
    """Two-sample log-rank test (Mantel-Haenszel) on the
    kaplan_meier setting — time-to-first-big-purchase, day-level,
    censoring only at the window end — comparing even- vs
    odd-user_id cohorts: per death day, observed group-1 deaths
    O1_t vs the hypergeometric expectation E1_t = d*n1/n and
    variance V_t = d*(n1/n)*(1-n1/n)*(n-d)/(n-1); the statistic is
    Z = (O1 - E1)/sqrt(V).  Per-day E and V are one mirrored IEEE
    chain each, quantized to integer nano-units (round) so the
    cross-day sums are exact integers; O1 and the risk sets are
    pure int64 (risk set = cohort size minus prior deaths, via the
    same <= 31-row broadcast inequality join as kaplan_meier — no
    single-partition window).  Z is a final float chain on exact
    integer sums.  n=1 days nullif-guard V (absent at any gate
    scale)."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    day = (
        F.datediff(
            F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("bigint")
    fe = (
        e.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > 200)
        )
        .groupBy("user_id")
        .agg(F.min(day).alias("day"))
        .select(
            "day", (F.col("user_id") % 2 == 0).alias("_g")
        )
    )
    dg = (
        fe.groupBy("day", "_g")
        .agg(F.count("*").cast("bigint").alias("_dd"))
        .localCheckpoint(eager=False)  # two consumers: dd + prior join
    )
    dd = (
        dg.groupBy("day")
        .agg(
            F.sum("_dd").cast("bigint").alias("_d"),
            F.sum(F.when(F.col("_g"), F.col("_dd")).otherwise(0))
            .cast("bigint")
            .alias("_d1"),
        )
        .localCheckpoint(eager=False)
    )
    ns = (
        e.select("user_id")
        .distinct()
        .agg(
            F.count("*").cast("bigint").alias("_N"),
            F.sum(
                F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("_N1"),
        )
    )
    b = dg.select(
        F.col("day").alias("_bday"),
        F.col("_g").alias("_bg"),
        F.col("_dd").alias("_bdd"),
    )
    w = (
        dd.join(F.broadcast(b), F.col("_bday") < F.col("day"), "left")
        .groupBy("day", "_d", "_d1")
        .agg(
            F.coalesce(F.sum("_bdd"), F.lit(0))
            .cast("bigint")
            .alias("_prior"),
            F.coalesce(
                F.sum(F.when(F.col("_bg"), F.col("_bdd")).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("_prior1"),
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "day",
            "_d",
            "_d1",
            (F.col("_N") - F.col("_prior")).alias("_n"),
            (F.col("_N1") - F.col("_prior1")).alias("_n1"),
        )
    )
    frac = F.col("_n1").cast("double") / F.col("_n").cast("double")
    e1u = F.round(
        F.col("_d").cast("double") * frac * F.lit(1e9)
    ).cast("bigint")
    vu = F.round(
        F.col("_d").cast("double")
        * frac
        * (F.lit(1.0) - frac)
        * (
            (F.col("_n") - F.col("_d")).cast("double")
            / F.nullif(F.col("_n") - 1, F.lit(0)).cast("double")
        )
        * F.lit(1e9)
    ).cast("bigint")
    agg = w.agg(
        F.sum("_d1").cast("bigint").alias("o1"),
        F.sum(e1u).cast("bigint").alias("e1_units"),
        F.sum(vu).cast("bigint").alias("v_units"),
    )
    z = (
        F.col("o1").cast("double")
        - F.col("e1_units").cast("double") / F.lit(1e9)
    ) / F.sqrt(F.col("v_units").cast("double") / F.lit(1e9))
    return agg.select("o1", "e1_units", "v_units", z.alias("z"))


register("logrank_test", q_logrank_test, """
        WITH fe AS (
          SELECT user_id,
                 min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                     + 1) AS day
          FROM events
          WHERE user_id IS NOT NULL AND event_type = 'purchase'
            AND value > 200
          GROUP BY user_id
        ), fe2 AS (
          SELECT day, (user_id % 2 = 0) AS g FROM fe
        ), dg AS MATERIALIZED (
          SELECT day, g, CAST(count(*) AS BIGINT) AS dd
          FROM fe2 GROUP BY 1, 2
        ), dd AS MATERIALIZED (
          SELECT day, CAST(sum(dd) AS BIGINT) AS d,
                 CAST(sum(CASE WHEN g THEN dd ELSE 0 END) AS BIGINT) AS d1
          FROM dg GROUP BY 1
        ), ns AS (
          SELECT CAST(count(*) AS BIGINT) AS N,
                 CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS N1
          FROM (SELECT DISTINCT user_id FROM events
                WHERE user_id IS NOT NULL)
        ), pri AS (
          SELECT dd.day,
                 CAST(coalesce(sum(b.dd), 0) AS BIGINT) AS prior,
                 CAST(coalesce(sum(CASE WHEN b.g THEN b.dd ELSE 0 END), 0)
                      AS BIGINT) AS prior1
          FROM dd LEFT JOIN dg b ON b.day < dd.day
          GROUP BY dd.day
        ), w AS (
          SELECT dd.day, dd.d, dd.d1,
                 ns.N - pri.prior AS n,
                 ns.N1 - pri.prior1 AS n1
          FROM dd JOIN pri USING (day) CROSS JOIN ns
        ), u AS (
          SELECT d1,
                 CAST(round(CAST(d AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * 1e9) AS BIGINT) AS e1u,
                 CAST(round(CAST(d AS DOUBLE)
                        * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(n - d AS DOUBLE)
                           / CAST(nullif(n - 1, 0) AS DOUBLE))
                        * 1e9) AS BIGINT) AS vu
          FROM w
        )
        SELECT CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(e1u) AS BIGINT) AS e1_units,
               CAST(sum(vu) AS BIGINT) AS v_units,
               (CAST(sum(d1) AS DOUBLE)
                - CAST(sum(e1u) AS DOUBLE) / 1e9)
               / sqrt(CAST(sum(vu) AS DOUBLE) / 1e9) AS z
        FROM u
    """)


def q_anova_f(spark, sf_dir):
    """One-way ANOVA F statistic for event value by event type:
    between/within sums of squares from exact integer moments
    (n, sum-cents, sum-cents² per group as DECIMAL(38,0)/HUGEINT),
    with each group's S²/n term rounded to integer units before
    the cross-group sum — the quantize-before-sum discipline, so
    the only floats are per-group chains on identical exact
    operands and the final F ratio.  The k-sample mean-comparison
    test next to ab_test_zscore (2-sample) and dow_type_chi2
    (categorical)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    g = e.select("event_type", cents.alias("_c")).groupBy(
        "event_type"
    ).agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(F.col("_c").cast(dec)).alias("_s"),
        F.sum((F.col("_c").cast(dec) * F.col("_c")).cast(dec)).alias(
            "_q"
        ),
    )
    ug = F.round(
        (F.col("_s") * F.col("_s")).cast("double")
        / F.col("_n").cast("double")
    ).cast(dec)
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum("_s").cast(dec).alias("_st"),
        F.sum("_q").cast(dec).alias("_qt"),
        F.sum(ug).cast(dec).alias("_ut"),
    )
    grand = F.round(
        (F.col("_st") * F.col("_st")).cast("double")
        / F.col("n_total").cast("double")
    ).cast(dec)
    ssb = (F.col("_ut") - grand).cast(dec)
    ssw = (F.col("_qt") - F.col("_ut")).cast(dec)
    f_stat = (
        ssb.cast("double")
        / (F.col("k") - 1).cast("double")
    ) / (
        ssw.cast("double")
        / (F.col("n_total") - F.col("k")).cast("double")
    )
    return tot.select(
        "k",
        "n_total",
        ssb.alias("ssb_units"),
        ssw.alias("ssw_units"),
        f_stat.alias("f_stat"),
    )


register("anova_f", q_anova_f, """
        WITH g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
                   AS s,
                 sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                     * CAST(round(value * 100) AS BIGINT)) AS q
          FROM events WHERE value IS NOT NULL
          GROUP BY 1
        ), gu AS (
          SELECT n, s, q,
                 CAST(round(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
                      AS HUGEINT) AS u
          FROM g
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 sum(s) AS st, sum(q) AS qt, sum(u) AS ut
          FROM gu
        )
        SELECT k, n_total,
               CAST(ut - CAST(round(CAST(st * st AS DOUBLE)
                                    / CAST(n_total AS DOUBLE))
                              AS HUGEINT) AS DECIMAL(38,0)) AS ssb_units,
               CAST(qt - ut AS DECIMAL(38,0)) AS ssw_units,
               (CAST(ut - CAST(round(CAST(st * st AS DOUBLE)
                                     / CAST(n_total AS DOUBLE))
                               AS HUGEINT) AS DOUBLE)
                / CAST(k - 1 AS DOUBLE))
               / (CAST(qt - ut AS DOUBLE)
                  / CAST(n_total - k AS DOUBLE)) AS f_stat
        FROM tot
    """,
    casts={
        "k": None, "n_total": None, "ssb_units": "bigint",
        "ssw_units": "bigint", "f_stat": None,
    })


def q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard on the kaplan_meier setting
    — H(t) = sum over death days <= t of d/n, each per-day hazard
    increment quantized to integer nano-units (round) so the
    cumulative sum is exact integer arithmetic (the quantized-ln-
    increments discipline applied to hazards); risk sets are the
    same exact int64 broadcast-inequality-join construction.  The
    survival family closes as estimate (kaplan_meier) + hazard
    (nelson_aalen) + test (logrank_test)."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    day = (
        F.datediff(
            F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("bigint")
    fe = (
        e.filter(
            (F.col("event_type") == "purchase") & (F.col("value") > 200)
        )
        .groupBy("user_id")
        .agg(F.min(day).alias("day"))
    )
    d = (
        fe.groupBy("day")
        .agg(F.count("*").cast("bigint").alias("deaths"))
        .localCheckpoint(eager=False)
    )
    ntot = e.agg(
        F.countDistinct("user_id").cast("bigint").alias("_N")
    )
    b = d.select(
        F.col("day").alias("_bday"), F.col("deaths").alias("_bdeaths")
    )
    w = (
        d.join(F.broadcast(b), F.col("_bday") < F.col("day"), "left")
        .groupBy("day", "deaths")
        .agg(
            F.coalesce(F.sum("_bdeaths"), F.lit(0))
            .cast("bigint")
            .alias("_prior")
        )
        .crossJoin(F.broadcast(ntot))
        .withColumn("at_risk", F.col("_N") - F.col("_prior"))
        .localCheckpoint(eager=False)  # two consumers of the cumsum join
    )
    hu = F.round(
        F.col("_bd2").cast("double")
        / F.col("_br2").cast("double")
        * F.lit(1e9)
    ).cast("bigint")
    t2 = w.select(
        F.col("day").alias("_bday2"),
        F.col("deaths").alias("_bd2"),
        F.col("at_risk").alias("_br2"),
    )
    return (
        w.join(F.broadcast(t2), F.col("_bday2") <= F.col("day"))
        .groupBy("day", "at_risk", "deaths")
        .agg(F.sum(hu).cast("bigint").alias("h_units"))
        .select(
            "day",
            "at_risk",
            "deaths",
            "h_units",
            (F.col("h_units").cast("double") / F.lit(1e9)).alias(
                "cum_hazard"
            ),
        )
    )


register("nelson_aalen", q_nelson_aalen, """
        WITH fe AS (
          SELECT user_id,
                 min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                     + 1) AS day
          FROM events
          WHERE user_id IS NOT NULL AND event_type = 'purchase'
            AND value > 200
          GROUP BY user_id
        ), d AS (
          SELECT day, CAST(count(*) AS BIGINT) AS deaths FROM fe
          GROUP BY day
        ), ntot AS (
          SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM events
          WHERE user_id IS NOT NULL
        ), w AS (
          SELECT day, deaths,
                 CAST(ntot.n - coalesce(
                   sum(deaths) OVER (
                     ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS at_risk
          FROM d CROSS JOIN ntot
        ), u AS (
          SELECT day, at_risk, deaths,
                 CAST(round(CAST(deaths AS DOUBLE)
                            / CAST(at_risk AS DOUBLE) * 1e9)
                      AS BIGINT) AS hu
          FROM w
        )
        SELECT CAST(day AS BIGINT) AS day, at_risk, deaths,
               CAST(sum(hu) OVER (
                 ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS h_units,
               CAST(sum(hu) OVER (
                 ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) / 1e9 AS cum_hazard
        FROM u
    """)


def q_kruskal_binned(spark, sf_dir):
    """Binned Kruskal-Wallis H across ALL event types — the
    k-sample generalization of mannwhitney_binned, closing the
    rank-test family (2-sample U, k-sample H) the way anova_f
    closes the mean-test family.  Same 1024 fixed equi-width cent
    bins (ranks are unbounded at scale, bins are not), doubled
    midranks keep ties integer, each group's (2R_g)²/n_g term
    rounds to integer units before the cross-group sum
    (quantize-before-sum), and the tie correction
    1 - Σ(t³-t)/(N³-N) is exact int64.  With U = Σ(2R_g)²/n_g the
    doubled-rank scaling gives H = 12·(U/4)/(N(N+1)) - 3(N+1)
    = 3·U/(N(N+1)) - 3(N+1), then H' = H /
    correction — floats only on exact integer operands."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    binc = F.floor(
        (cents * 1024).cast("double") / F.lit(49003.0)
    ).cast("bigint")
    c = (
        e.groupBy(binc.alias("bin"), F.col("event_type"))
        .agg(F.count("*").cast("bigint").alias("cg"))
        .localCheckpoint(eager=False)  # totals + cumulative side
    )
    bt = c.groupBy("bin").agg(
        F.sum("cg").cast("bigint").alias("_t")
    ).localCheckpoint(eager=False)
    b2 = bt.select(
        F.col("bin").alias("_bb"), F.col("_t").alias("_bt")
    )
    cum = (
        bt.join(F.broadcast(b2), F.col("_bb") <= F.col("bin"))
        .groupBy("bin", "_t")
        .agg(F.sum("_bt").cast("bigint").alias("_cum_incl"))
    )
    two_r = (F.col("_cum_incl") - F.col("_t")) * 2 + F.col("_t") + 1
    ranked = c.join(
        cum.select("bin", "_t", two_r.alias("_2r")), on="bin"
    )
    grp = ranked.groupBy("event_type").agg(
        F.sum("cg").cast("bigint").alias("_ng"),
        F.sum((F.col("cg").cast(dec) * F.col("_2r")).cast(dec)).alias(
            "_2rg"
        ),
    )
    ug = F.round(
        (F.col("_2rg") * F.col("_2rg")).cast("double")
        / F.col("_ng").cast("double")
    ).cast(dec)
    ties = bt.agg(
        F.sum(
            (
                F.col("_t").cast(dec)
                * F.col("_t")
                * F.col("_t")
                - F.col("_t")
            ).cast(dec)
        ).alias("_t3t")
    )
    tot = grp.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("_ng").cast("bigint").alias("n_total"),
        F.sum(ug).cast(dec).alias("_u"),
    ).crossJoin(F.broadcast(ties))
    n = F.col("n_total").cast("double")
    # H = 12/(N(N+1)) * Σ R_g²/n_g − 3(N+1); R_g = 2R_g/2 so
    # Σ R_g²/n_g = U/4 with U = Σ (2R_g)²/n_g (quantized):
    h = (
        F.lit(12.0)
        * (F.col("_u").cast("double") / F.lit(4.0))
        / (n * (n + F.lit(1.0)))
        - F.lit(3.0) * (n + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("_t3t").cast("double") / (
        n * n * n - n
    )
    return tot.select(
        "k",
        "n_total",
        F.col("_u").alias("u_units"),
        F.col("_t3t").alias("sum_t3t"),
        h.alias("h"),
        (h / corr).alias("h_corrected"),
    )


register("kruskal_binned", q_kruskal_binned, """
        WITH c AS MATERIALIZED (
          SELECT CAST(floor(CAST(CAST(round(value * 100) AS BIGINT)
                                 * 1024 AS DOUBLE) / 49003.0)
                      AS BIGINT) AS bin,
                 event_type, CAST(count(*) AS BIGINT) AS cg
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), bt AS MATERIALIZED (
          SELECT bin, CAST(sum(cg) AS BIGINT) AS t FROM c GROUP BY 1
        ), cum AS (
          SELECT bin, t,
                 CAST(sum(t) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_incl
          FROM bt
        ), ranked AS (
          SELECT c.event_type, c.cg,
                 (cum.cum_incl - cum.t) * 2 + cum.t + 1 AS two_r
          FROM c JOIN cum USING (bin)
        ), grp AS (
          SELECT event_type, CAST(sum(cg) AS BIGINT) AS ng,
                 sum(CAST(cg AS HUGEINT) * two_r) AS two_rg
          FROM ranked GROUP BY 1
        ), gu AS (
          SELECT ng,
                 CAST(round(CAST(two_rg * two_rg AS DOUBLE)
                            / CAST(ng AS DOUBLE)) AS HUGEINT) AS u
          FROM grp
        ), ties AS (
          SELECT sum(CAST(t AS HUGEINT) * t * t - t) AS t3t FROM bt
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(ng) AS BIGINT) AS n_total,
                 sum(u) AS u FROM gu
        )
        SELECT k, n_total,
               CAST(u AS DECIMAL(38,0)) AS u_units,
               CAST(t3t AS DECIMAL(38,0)) AS sum_t3t,
               12.0 * (CAST(u AS DOUBLE) / 4.0)
                 / (CAST(n_total AS DOUBLE)
                    * (CAST(n_total AS DOUBLE) + 1.0))
                 - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h,
               (12.0 * (CAST(u AS DOUBLE) / 4.0)
                 / (CAST(n_total AS DOUBLE)
                    * (CAST(n_total AS DOUBLE) + 1.0))
                 - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
               / (1.0 - CAST(t3t AS DOUBLE)
                  / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
                     * CAST(n_total AS DOUBLE)
                     - CAST(n_total AS DOUBLE))) AS h_corrected
        FROM tot CROSS JOIN ties
    """,
    casts={
        "k": None, "n_total": None, "u_units": "bigint", "sum_t3t": "bigint",
        "h": None, "h_corrected": None,
    })


def q_mcnemar_pairs(spark, sf_dir):
    """McNemar paired test on per-user conversion in the first vs
    second half of the observed window (the same overflow-free
    subtraction-form midpoint as did_by_type): b = users
    converting pre only, c = post only; chi2 = (b-c)²/(b+c) — the
    paired-binary complement to ab_test_zscore's unpaired test.
    All counts exact int64; one float division (nullif-guarded)."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    rng = e.agg(
        F.min("ts").alias("_t0"), F.max("ts").alias("_t1")
    )
    conv = F.when(
        (F.col("event_type") == "purchase") & (F.col("value") > 200),
        1,
    ).otherwise(0)
    pre = (F.col("ts") - F.col("_t0")) < (F.col("_t1") - F.col("ts"))
    per_user = (
        e.crossJoin(F.broadcast(rng))
        .groupBy("user_id")
        .agg(
            F.max(F.when(pre, conv).otherwise(0)).alias("_p"),
            F.max(F.when(~pre, conv).otherwise(0)).alias("_q"),
        )
    )
    agg = per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(
            F.when((F.col("_p") == 1) & (F.col("_q") == 0), 1)
            .otherwise(0)
        ).cast("bigint").alias("b"),
        F.sum(
            F.when((F.col("_p") == 0) & (F.col("_q") == 1), 1)
            .otherwise(0)
        ).cast("bigint").alias("c"),
    )
    chi2 = (
        (F.col("b") - F.col("c")).cast("double")
        * (F.col("b") - F.col("c")).cast("double")
        / F.nullif(F.col("b") + F.col("c"), F.lit(0)).cast("double")
    )
    return agg.select("n_users", "b", "c", chi2.alias("chi2"))


register("mcnemar_pairs", q_mcnemar_pairs, """
        WITH rng AS (
          SELECT min(ts) AS t0, max(ts) AS t1 FROM events
          WHERE user_id IS NOT NULL
        ), per_user AS (
          SELECT user_id,
                 max(CASE WHEN (ts - t0) < (t1 - ts)
                          AND event_type = 'purchase' AND value > 200
                          THEN 1 ELSE 0 END) AS p,
                 max(CASE WHEN NOT ((ts - t0) < (t1 - ts))
                          AND event_type = 'purchase' AND value > 200
                          THEN 1 ELSE 0 END) AS q
          FROM events, rng WHERE user_id IS NOT NULL
          GROUP BY user_id
        ), agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_users,
                 CAST(sum(CASE WHEN p = 1 AND q = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS b,
                 CAST(sum(CASE WHEN p = 0 AND q = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS c
          FROM per_user
        )
        SELECT n_users, b, c,
               CAST(b - c AS DOUBLE) * CAST(b - c AS DOUBLE)
                 / CAST(nullif(b + c, 0) AS DOUBLE) AS chi2
        FROM agg
    """)


def q_bartlett_test(spark, sf_dir):
    """Bartlett's test of variance homogeneity across event types
    — the variance complement to anova_f's mean test, from the
    SAME exact integer moments (n, S, Q per group): each group's
    biased-corrected variance s² = (nQ - S²)/(n(n-1)) is one
    mirrored float chain on exact DECIMAL operands, ln(s²) is
    quantized to integer nano-units per group (the quantized-ln
    discipline) so the Σ(n_g-1)·ln(s_g²) accumulation is exact
    integer, and the pooled-variance term is one more mirrored
    chain.  M = (N-k)·ln(s_p²) - Σ(n_g-1)·ln(s_g²), with the
    standard correction C = 1 + (Σ1/(n_g-1) - 1/(N-k))/(3(k-1))
    accumulated as quantized reciprocal units.  Groups with a
    single observation are excluded identically in both engines
    (n=1 makes s² a 0/0 NaN and 1/(n-1) an Infinity — the test is
    undefined for them), so degenerate inputs degrade consistently
    instead of crashing the ANSI bigint cast."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    g = e.select("event_type", cents.alias("_c")).groupBy(
        "event_type"
    ).agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(F.col("_c").cast(dec)).alias("_s"),
        F.sum((F.col("_c").cast(dec) * F.col("_c")).cast(dec)).alias(
            "_q"
        ),
    ).filter(F.col("_n") >= 2)
    s2 = (
        (
            F.col("_n").cast("double") * F.col("_q").cast("double")
            - F.col("_s").cast("double") * F.col("_s").cast("double")
        )
        / (
            F.col("_n").cast("double")
            * (F.col("_n") - 1).cast("double")
        )
    )
    lnu = F.round(F.log(s2) * F.lit(1e9)).cast("bigint")
    rcu = F.round(
        F.lit(1e9) / (F.col("_n") - 1).cast("double")
    ).cast("bigint")
    ug = F.round(
        (F.col("_s") * F.col("_s")).cast("double")
        / F.col("_n").cast("double")
    ).cast(dec)
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum((F.col("_n") - 1).cast(dec) * lnu).cast(dec).alias(
            "_wln"
        ),
        F.sum(rcu).cast("bigint").alias("_rc"),
        F.sum("_q").cast(dec).alias("_qt"),
        F.sum(ug).cast(dec).alias("_ut"),
    )
    nk = (F.col("n_total") - F.col("k")).cast("double")
    sp2 = (
        (F.col("_qt") - F.col("_ut")).cast("double") / nk
    )
    m_stat = (
        nk * F.log(sp2)
        - F.col("_wln").cast("double") / F.lit(1e9)
    )
    c_corr = F.lit(1.0) + (
        F.col("_rc").cast("double") / F.lit(1e9)
        - F.lit(1.0) / nk
    ) / (F.lit(3.0) * (F.col("k") - 1).cast("double"))
    return tot.select(
        "k",
        "n_total",
        F.col("_wln").alias("wln_units"),
        m_stat.alias("m_stat"),
        (m_stat / c_corr).alias("chi2"),
    )


register("bartlett_test", q_bartlett_test, """
        WITH g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
                   AS s,
                 sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                     * CAST(round(value * 100) AS BIGINT)) AS q
          FROM events WHERE value IS NOT NULL
          GROUP BY 1
          HAVING count(*) >= 2
        ), per AS (
          SELECT n, q,
                 CAST(round(ln(
                   (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                 ) * 1e9) AS BIGINT) AS lnu,
                 CAST(round(1e9 / CAST(n - 1 AS DOUBLE)) AS BIGINT)
                   AS rcu,
                 CAST(round(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE))
                      AS HUGEINT) AS u
          FROM g
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 sum(CAST(n - 1 AS HUGEINT) * lnu) AS wln,
                 CAST(sum(rcu) AS BIGINT) AS rc,
                 sum(q) AS qt, sum(u) AS ut
          FROM per
        )
        SELECT k, n_total,
               CAST(wln AS DECIMAL(38,0)) AS wln_units,
               (CAST(n_total - k AS DOUBLE)
                  * ln(CAST(qt - ut AS DOUBLE)
                       / CAST(n_total - k AS DOUBLE))
                - CAST(wln AS DOUBLE) / 1e9) AS m_stat,
               (CAST(n_total - k AS DOUBLE)
                  * ln(CAST(qt - ut AS DOUBLE)
                       / CAST(n_total - k AS DOUBLE))
                - CAST(wln AS DOUBLE) / 1e9)
               / (1.0 + (CAST(rc AS DOUBLE) / 1e9
                         - 1.0 / CAST(n_total - k AS DOUBLE))
                        / (3.0 * CAST(k - 1 AS DOUBLE))) AS chi2
        FROM tot
    """,
    casts={
        "k": None, "n_total": None, "wln_units": "bigint", "m_stat": None,
        "chi2": None,
    })


def q_durbin_watson(spark, sf_dir):
    """Durbin-Watson first-order residual autocorrelation per
    event type, on ols_by_type's exact-moment fit: residuals
    e_t = v_cents - (intercept + slope·t) are computed with the
    closed-form slope/intercept (doubles derived from exact
    DECIMAL moments, identical in both engines), QUANTIZED to
    integer micro-units per row, and DW = Σ(e_t - e_{t-1})² /
    Σe_t² runs entirely on those integers via one lag window over
    the (ts, event_id)-ordered series — order-invariant by
    construction.  The regression-diagnostics family next to
    ols_by_type and daily_acf."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    t0 = e.agg(F.min(F.unix_micros("ts")).alias("_t0"))
    base = e.crossJoin(F.broadcast(t0)).select(
        "event_type",
        "event_id",
        "ts",
        (F.unix_micros("ts") - F.col("_t0"))
        .cast("bigint")
        .alias("_t"),
        F.round(F.col("value") * 1_000_000)
        .cast("bigint")
        .alias("_v"),
    ).localCheckpoint(eager=False)  # moments + residual consumers
    mom = base.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(F.col("_t").cast(dec)).alias("_st"),
        F.sum(F.col("_v").cast(dec)).alias("_sv"),
        F.sum((F.col("_t").cast(dec) * F.col("_v")).cast(dec)).alias(
            "_stv"
        ),
        F.sum((F.col("_t").cast(dec) * F.col("_t")).cast(dec)).alias(
            "_stt"
        ),
    )
    num = (
        F.col("_n").cast(dec) * F.col("_stv")
        - F.col("_st") * F.col("_sv")
    ).cast("double")
    den = (
        F.col("_n").cast(dec) * F.col("_stt")
        - F.col("_st") * F.col("_st")
    ).cast("double")
    slope = num / den
    intercept = (
        F.col("_sv").cast("double")
        - slope * F.col("_st").cast("double")
    ) / F.col("_n").cast("double")
    fit = mom.select(
        "event_type",
        slope.alias("_b"),
        intercept.alias("_a"),
    )
    resid = base.join(F.broadcast(fit), on="event_type").select(
        "event_type",
        "ts",
        "event_id",
        F.round(
            F.col("_v").cast("double")
            - (
                F.col("_a")
                + F.col("_b") * F.col("_t").cast("double")
            )
        ).cast("bigint").alias("_eu"),
    )
    wdw = W.partitionBy("event_type").orderBy("ts", "event_id")
    d = resid.withColumn("_prev", F.lag("_eu").over(wdw))
    diff = F.col("_eu") - F.col("_prev")
    return d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("_prev").isNotNull(),
                (diff.cast(dec) * diff).cast(dec),
            ).otherwise(F.lit(0).cast(dec))
        ).cast(dec).alias("num_units"),
        F.sum((F.col("_eu").cast(dec) * F.col("_eu")).cast(dec))
        .cast(dec)
        .alias("den_units"),
    ).select(
        "event_type",
        "n",
        "num_units",
        "den_units",
        (
            F.col("num_units").cast("double")
            / F.col("den_units").cast("double")
        ).alias("dw"),
    )


register("durbin_watson", q_durbin_watson, """
        WITH t0 AS (
          SELECT min(epoch_us(ts)) AS t0 FROM events
          WHERE value IS NOT NULL
        ), base AS (
          SELECT event_type, event_id, ts,
                 CAST(epoch_us(ts) - t0 AS BIGINT) AS t,
                 CAST(round(value * 1000000) AS BIGINT) AS v
          FROM events, t0 WHERE value IS NOT NULL
        ), mom AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(t AS HUGEINT)) AS st,
                 sum(CAST(v AS HUGEINT)) AS sv,
                 sum(CAST(t AS HUGEINT) * v) AS stv,
                 sum(CAST(t AS HUGEINT) * t) AS stt
          FROM base GROUP BY event_type
        ), fit AS (
          SELECT event_type,
                 CAST(CAST(n AS HUGEINT) * stv - st * sv AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * stt - st * st AS DOUBLE)
                   AS b,
                 (CAST(sv AS DOUBLE)
                  - (CAST(CAST(n AS HUGEINT) * stv - st * sv AS DOUBLE)
                     / CAST(CAST(n AS HUGEINT) * stt - st * st
                            AS DOUBLE))
                    * CAST(st AS DOUBLE))
                   / CAST(n AS DOUBLE) AS a
          FROM mom
        ), resid AS (
          SELECT base.event_type, base.ts, base.event_id,
                 CAST(round(CAST(v AS DOUBLE)
                            - (a + b * CAST(t AS DOUBLE)))
                      AS BIGINT) AS eu
          FROM base JOIN fit USING (event_type)
        ), lagd AS (
          SELECT event_type, eu,
                 lag(eu) OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) AS prev
          FROM resid
        )
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN prev IS NOT NULL
                             THEN CAST(eu - prev AS HUGEINT)
                                  * (eu - prev)
                             ELSE 0 END) AS DECIMAL(38,0)) AS num_units,
               CAST(sum(CAST(eu AS HUGEINT) * eu) AS DECIMAL(38,0))
                 AS den_units,
               CAST(sum(CASE WHEN prev IS NOT NULL
                             THEN CAST(eu - prev AS HUGEINT)
                                  * (eu - prev)
                             ELSE 0 END) AS DOUBLE)
               / CAST(sum(CAST(eu AS HUGEINT) * eu) AS DOUBLE) AS dw
        FROM lagd GROUP BY event_type
    """,
    casts={
        "event_type": None, "n": None, "num_units": "double",
        "den_units": "double", "dw": None,
    })


def q_decision_stump(spark, sf_dir):
    """Exact decision-stump induction (CART split search, Breiman
    1984) for label = is-purchase on the binned value feature:
    for every candidate split over the 1024 fixed cent bins,
    left/right (count, positive) totals come from integer
    cumulative sums over the ≤1024-row bin table (broadcast
    inequality join — no unbounded window), and the weighted Gini
    impurity N_L·gini_L + N_R·gini_R is compared in EXACT integer
    arithmetic: impurity_units(side) = 2·pos·(n-pos)·N_other···
    — specifically cost(split)·N_L·N_R is avoided by comparing
    cost = 2·[posL·(nL-posL)·nR + posR·(nR-posR)·nL] over the
    common denominator nL·nR (all DECIMAL(38,0)/HUGEINT), so the
    argmin split is decided without a single float.  The argmin
    tie-breaks on the split bin (ascending).  Returns one row
    (split_bin, n_left, pos_left, n_right, pos_right, cost_units)
    — the supervised tree-induction primitive."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    binc = F.floor(
        (cents * 1024).cast("double") / F.lit(49003.0)
    ).cast("bigint")
    c = (
        e.groupBy(binc.alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).cast("bigint").alias("_p"),
        )
        .localCheckpoint(eager=False)  # totals + cumulative side
    )
    tot = c.agg(
        F.sum("_n").cast("bigint").alias("_N"),
        F.sum("_p").cast("bigint").alias("_P"),
    )
    b2 = c.select(
        F.col("bin").alias("_bb"),
        F.col("_n").alias("_bn"),
        F.col("_p").alias("_bp"),
    )
    cum = (
        c.join(F.broadcast(b2), F.col("_bb") <= F.col("bin"))
        .groupBy("bin")
        .agg(
            F.sum("_bn").cast("bigint").alias("n_left"),
            F.sum("_bp").cast("bigint").alias("pos_left"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_left",
            "pos_left",
            (F.col("_N") - F.col("n_left")).alias("n_right"),
            (F.col("_P") - F.col("pos_left")).alias("pos_right"),
        )
        .filter((F.col("n_left") > 0) & (F.col("n_right") > 0))
    )
    cost = (
        F.lit(2).cast(dec)
        * (
            (
                F.col("pos_left").cast(dec)
                * (F.col("n_left") - F.col("pos_left"))
            ).cast(dec)
            * F.col("n_right")
            + (
                F.col("pos_right").cast(dec)
                * (F.col("n_right") - F.col("pos_right"))
            ).cast(dec)
            * F.col("n_left")
        ).cast(dec)
    ).cast(dec)
    best = cum.agg(
        F.min(
            F.struct(
                cost.alias("cost_units"),
                F.col("bin").alias("split_bin"),
                F.col("n_left").alias("n_left"),
                F.col("pos_left").alias("pos_left"),
                F.col("n_right").alias("n_right"),
                F.col("pos_right").alias("pos_right"),
            )
        ).alias("_b")
    )
    return best.select(
        F.col("_b.split_bin").alias("split_bin"),
        F.col("_b.n_left").alias("n_left"),
        F.col("_b.pos_left").alias("pos_left"),
        F.col("_b.n_right").alias("n_right"),
        F.col("_b.pos_right").alias("pos_right"),
        F.col("_b.cost_units").alias("cost_units"),
    )


register("decision_stump", q_decision_stump, """
        WITH c AS MATERIALIZED (
          SELECT CAST(floor(CAST(CAST(round(value * 100) AS BIGINT)
                                 * 1024 AS DOUBLE) / 49003.0)
                      AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS p
          FROM events WHERE value IS NOT NULL
          GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS N,
                 CAST(sum(p) AS BIGINT) AS P FROM c
        ), cum AS (
          SELECT bin,
                 CAST(sum(n) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS n_left,
                 CAST(sum(p) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS pos_left
          FROM c
        ), cand AS (
          SELECT bin AS split_bin, n_left, pos_left,
                 tot.N - n_left AS n_right,
                 tot.P - pos_left AS pos_right
          FROM cum CROSS JOIN tot
          WHERE n_left > 0 AND tot.N - n_left > 0
        ), costed AS (
          SELECT *,
                 2 * (CAST(pos_left AS HUGEINT)
                        * (n_left - pos_left) * n_right
                      + CAST(pos_right AS HUGEINT)
                        * (n_right - pos_right) * n_left) AS cost
          FROM cand
        )
        SELECT split_bin, n_left, pos_left, n_right, pos_right,
               CAST(cost AS DECIMAL(38,0)) AS cost_units
        FROM costed ORDER BY cost ASC, split_bin ASC LIMIT 1
    """,
    casts={
        "split_bin": None, "n_left": None, "pos_left": None, "n_right": None,
        "pos_right": None, "cost_units": "bigint",
    })


def q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test: is the purchase proportion
    trending across ordered value-quartile groups?  Groups are
    the 4 fixed cent-range quartile bins (scores 0..3), the
    statistic T = Σ s_i·(p_i - n_i·P/N) with variance
    V = P/N·(1-P/N)·[Σ s_i²·n_i - (Σ s_i·n_i)²/N]: every
    accumulation is exact int64/DECIMAL (scores are small
    integers), T·N = Σ s_i·(p_i·N - n_i·P) stays integer over the
    common denominator N, and Z = (T·N)/sqrt(V·N²) is one float
    chain on exact integer operands.  The ordered-groups trend
    complement to dow_type_chi2's unordered independence test."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    score = F.least(
        F.floor((cents * 4).cast("double") / F.lit(49003.0)).cast(
            "bigint"
        ),
        F.lit(3),
    )
    g = e.groupBy(score.alias("s")).agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("_p"),
    )
    tot = g.agg(
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum("_p").cast("bigint").alias("p_total"),
        F.sum((F.col("s").cast(dec) * F.col("_n")).cast(dec)).alias(
            "_sn"
        ),
        F.sum(
            (F.col("s").cast(dec) * F.col("s") * F.col("_n")).cast(dec)
        ).alias("_ssn"),
        F.sum((F.col("s").cast(dec) * F.col("_p")).cast(dec)).alias(
            "_sp"
        ),
    )
    nn = F.col("n_total").cast("double")
    pp = F.col("p_total").cast("double")
    tn = (
        F.col("_sp").cast("double") * nn
        - F.col("_sn").cast("double") * pp
    )
    pbar = pp / nn
    v = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("_ssn").cast("double")
            - F.col("_sn").cast("double")
            * F.col("_sn").cast("double")
            / nn
        )
    )
    z = tn / (nn * F.sqrt(v))
    return tot.select(
        "n_total",
        "p_total",
        F.col("_sp").alias("sp_units"),
        F.col("_sn").alias("sn_units"),
        z.alias("z"),
    )


register("cochran_armitage", q_cochran_armitage, """
        WITH g AS (
          SELECT least(CAST(floor(CAST(CAST(round(value * 100) AS BIGINT)
                                       * 4 AS DOUBLE) / 49003.0)
                            AS BIGINT), 3) AS s,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS BIGINT) AS p
          FROM events WHERE value IS NOT NULL
          GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS n_total,
                 CAST(sum(p) AS BIGINT) AS p_total,
                 sum(CAST(s AS HUGEINT) * n) AS sn,
                 sum(CAST(s AS HUGEINT) * s * n) AS ssn,
                 sum(CAST(s AS HUGEINT) * p) AS sp
          FROM g
        )
        SELECT n_total, p_total,
               CAST(sp AS DECIMAL(38,0)) AS sp_units,
               CAST(sn AS DECIMAL(38,0)) AS sn_units,
               (CAST(sp AS DOUBLE) * CAST(n_total AS DOUBLE)
                - CAST(sn AS DOUBLE) * CAST(p_total AS DOUBLE))
               / (CAST(n_total AS DOUBLE) * sqrt(
                   (CAST(p_total AS DOUBLE) / CAST(n_total AS DOUBLE))
                   * (1.0 - CAST(p_total AS DOUBLE)
                            / CAST(n_total AS DOUBLE))
                   * (CAST(ssn AS DOUBLE)
                      - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                        / CAST(n_total AS DOUBLE)))) AS z
        FROM tot
    """,
    casts={
        "n_total": None, "p_total": None, "sp_units": "bigint",
        "sn_units": "bigint", "z": None,
    })


def _binseg_level_sql(lvl: int) -> str:
    """One binseg level over the b bin CTE: cumulative sums,
    segment totals, the mirrored double gain chain, and the
    ORDER BY gain DESC, bin argmax (= the engine's struct-min)."""
    return f"""cum{lvl} AS (
          SELECT s.event_type, s.lo, s.hi, b1.bin,
                 CAST(sum(b2.n) AS BIGINT) AS n_left,
                 CAST(sum(b2.s) AS HUGEINT) AS sl
          FROM seg{lvl} s
          JOIN b b1 ON b1.event_type = s.event_type
                   AND b1.bin BETWEEN s.lo AND s.hi
          JOIN b b2 ON b2.event_type = s.event_type
                   AND b2.bin BETWEEN s.lo AND b1.bin
          GROUP BY 1, 2, 3, 4
        ), tot{lvl} AS (
          SELECT s.event_type, s.lo, s.hi,
                 CAST(sum(b.n) AS BIGINT) AS np,
                 CAST(sum(b.s) AS HUGEINT) AS sp
          FROM seg{lvl} s
          JOIN b ON b.event_type = s.event_type
                AND b.bin BETWEEN s.lo AND s.hi
          GROUP BY 1, 2, 3
        ), gain{lvl} AS (
          SELECT c.event_type, c.lo, c.hi, c.bin, c.n_left,
                 CAST(t.np - c.n_left AS BIGINT) AS n_right,
                 (CAST(c.sl * (t.np - c.n_left)
                       - (t.sp - c.sl) * c.n_left AS DOUBLE)
                  * CAST(c.sl * (t.np - c.n_left)
                         - (t.sp - c.sl) * c.n_left AS DOUBLE))
                 / ((CAST(c.n_left AS DOUBLE)
                     * CAST(t.np - c.n_left AS DOUBLE))
                    * CAST(t.np AS DOUBLE)) AS gain
          FROM cum{lvl} c
          JOIN tot{lvl} t USING (event_type, lo, hi)
          WHERE t.np - c.n_left > 0
        ), best{lvl} AS (
          SELECT event_type, lo, hi, bin AS split_bin,
                 n_left, n_right, gain
          FROM (
            SELECT *, row_number() OVER (
                     PARTITION BY event_type, lo, hi
                     ORDER BY gain DESC, bin ASC
                   ) AS rn
            FROM gain{lvl}
          ) WHERE rn = 1
        )"""


def q_binseg_changepoints(spark, sf_dir):
    """Binary-segmentation change-point detection (Scott & Knott
    1974 / the binseg baseline of the PELT literature) on the
    per-type event value series — the offline segmentation
    complement to cusum_by_type's one-sided online detection:
    depth-2 recursion finds up to 3 change
    points per event type, each maximizing the SSE reduction
    gain(s) = n_l·n_r/n_p · (mean_l - mean_r)².

    Exactness: the series is reduced to the fixed ≤1024-bin time
    grid (integer div on non-negative µs offsets — Spark `div`
    and DuckDB `//` agree); per-bin (n, Σcents) moments are exact
    DECIMAL(38,0); per-split D = S_l·n_r - S_r·n_l stays exact
    DECIMAL, and gain = D²/((n_l·n_r)·n_p) is one mirrored
    double chain (division-derived — IEEE-identical both
    engines); the per-segment argmax is a struct-min on
    (-gain, bin) with ascending-bin tie-break, replayed in the
    oracle as ORDER BY gain DESC, bin.  No float ever enters an
    exact-integer gate column.

    Scale shape: one groupBy reduces the raw events to the
    bounded (type × 1024) bin table (map-side combine); the
    split search — cumulative sums via broadcast inequality
    join, segment totals, argmax — runs entirely on that
    bounded control frame (the decision_stump precedent), so
    depth-2 recursion costs two bounded passes regardless of
    data size."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    rng = e.agg(
        F.min(F.unix_micros("ts")).alias("_t0"),
        F.max(F.unix_micros("ts")).alias("_t1"),
    )
    b = (
        e.crossJoin(F.broadcast(rng))
        .select(
            "event_type",
            F.expr(
                "((unix_micros(ts) - _t0) * 1024)"
                " div (_t1 - _t0 + 1)"
            ).cast("bigint").alias("bin"),
            F.round(F.col("value") * 100).cast("bigint").alias("_c"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(F.col("_c").cast(dec)).alias("_s"),
        )
        # consumers: per-level cumulative joins + totals (2 levels)
        .localCheckpoint(eager=False)
    )
    b2 = b.select(
        F.col("event_type").alias("_et2"),
        F.col("bin").alias("_b2"),
        F.col("_n").alias("_n2"),
        F.col("_s").alias("_s2"),
    )

    def best_splits(segs, lvl):
        """One binseg level: per (type, lo, hi) segment, the
        argmax-gain split over the bounded bin table."""
        sb = b.join(F.broadcast(segs), on="event_type").filter(
            (F.col("bin") >= F.col("lo"))
            & (F.col("bin") <= F.col("hi"))
        )
        tot = sb.groupBy("event_type", "lo", "hi").agg(
            F.sum("_n").cast("bigint").alias("_np"),
            F.sum("_s").cast(dec).alias("_sp"),
        )
        cum = (
            sb.join(
                F.broadcast(b2),
                (F.col("_et2") == F.col("event_type"))
                & (F.col("_b2") >= F.col("lo"))
                & (F.col("_b2") <= F.col("bin")),
            )
            .groupBy("event_type", "lo", "hi", "bin")
            .agg(
                F.sum("_n2").cast("bigint").alias("n_left"),
                F.sum("_s2").cast(dec).alias("_sl"),
            )
        )
        cand = (
            cum.join(F.broadcast(tot), on=["event_type", "lo", "hi"])
            .select(
                "event_type",
                "lo",
                "hi",
                "bin",
                "n_left",
                (F.col("_np") - F.col("n_left"))
                .cast("bigint")
                .alias("n_right"),
                "_sl",
                (F.col("_sp") - F.col("_sl")).cast(dec).alias("_sr"),
                "_np",
            )
            .filter(F.col("n_right") > 0)
        )
        d_int = (
            F.col("_sl") * F.col("n_right").cast(dec)
            - F.col("_sr") * F.col("n_left").cast(dec)
        ).cast(dec).cast("double")
        gain = (d_int * d_int) / (
            (
                F.col("n_left").cast("double")
                * F.col("n_right").cast("double")
            )
            * F.col("_np").cast("double")
        )
        return (
            cand.groupBy("event_type", "lo", "hi")
            .agg(
                F.min(
                    F.struct(
                        (-gain).alias("_ng"),
                        F.col("bin").alias("split_bin"),
                        F.col("n_left").alias("n_left"),
                        F.col("n_right").alias("n_right"),
                    )
                ).alias("_b")
            )
            .select(
                "event_type",
                F.lit(lvl).cast("int").alias("level"),
                F.col("lo").cast("bigint").alias("lo_bin"),
                F.col("hi").cast("bigint").alias("hi_bin"),
                F.col("_b.split_bin").alias("split_bin"),
                F.col("_b.n_left").alias("n_left"),
                F.col("_b.n_right").alias("n_right"),
                (-F.col("_b._ng")).alias("gain"),
            )
        )

    seg1 = b.select("event_type").distinct().select(
        "event_type",
        F.lit(0).cast("bigint").alias("lo"),
        F.lit(1023).cast("bigint").alias("hi"),
    )
    best1 = best_splits(seg1, 1).localCheckpoint(eager=False)
    seg2 = best1.select(
        "event_type",
        F.col("lo_bin").alias("lo"),
        F.col("split_bin").alias("hi"),
    ).unionByName(
        best1.select(
            "event_type",
            (F.col("split_bin") + 1).alias("lo"),
            F.col("hi_bin").alias("hi"),
        )
    )
    best2 = best_splits(seg2, 2)
    return best1.unionByName(best2)


register("binseg_changepoints", q_binseg_changepoints, lambda: f"""
        WITH rng AS (
          SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
          FROM events WHERE value IS NOT NULL
        ), b AS MATERIALIZED (
          SELECT event_type,
                 CAST(((epoch_us(ts) - t0) * 1024)
                      // (t1 - t0 + 1) AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(CAST(round(value * 100) AS BIGINT)
                          AS HUGEINT)) AS s
          FROM events, rng WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), seg1 AS (
          SELECT event_type, CAST(0 AS BIGINT) AS lo,
                 CAST(1023 AS BIGINT) AS hi
          FROM (SELECT DISTINCT event_type FROM b)
        ), {_binseg_level_sql(1)}, seg2 AS (
          SELECT event_type, lo AS lo, split_bin AS hi FROM best1
          UNION ALL
          SELECT event_type, split_bin + 1 AS lo, hi FROM best1
        ), {_binseg_level_sql(2)}
        SELECT event_type, CAST(1 AS INT) AS level,
               lo AS lo_bin, hi AS hi_bin, split_bin,
               n_left, n_right, gain
        FROM best1
        UNION ALL
        SELECT event_type, CAST(2 AS INT) AS level,
               lo AS lo_bin, hi AS hi_bin, split_bin,
               n_left, n_right, gain
        FROM best2""")


def q_mantel_haenszel(spark, sf_dir):
    """Mantel-Haenszel pooled odds ratio (Mantel & Haenszel 1959)
    for outcome = purchase vs exposure = high value (cents ≥
    24502, the fixed grid midpoint), stratified by day-of-week —
    the stratified-confounding complement to the did_by_type/
    ipw_ate causal family: OR_MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i)
    over the 7 per-stratum 2×2 tables.  Cell counts are exact
    int64; each a·d/n and b·c/n term is quantized to integer
    nano-units (division-derived — IEEE-identical both engines),
    so the cross-stratum sums are exact integers and only the
    final ratio re-enters floats.  Scale shape: one groupBy on
    the 7-key dow grid (map-side combine), then a 7-row scalar
    aggregate.  Returns one row (k_strata, n_total, ad_units,
    bc_units, or_mh)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    exp = F.when(cents >= 24502, 1).otherwise(0)
    out = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    g = e.select(
        F.dayofweek("ts").cast("bigint").alias("dow"),
        exp.alias("_e"),
        out.alias("_o"),
    ).groupBy("dow").agg(
        F.sum(F.col("_e") * F.col("_o")).cast("bigint").alias("_a"),
        F.sum(F.col("_e") * (1 - F.col("_o"))).cast("bigint").alias("_b"),
        F.sum((1 - F.col("_e")) * F.col("_o")).cast("bigint").alias("_c"),
        F.sum((1 - F.col("_e")) * (1 - F.col("_o")))
        .cast("bigint")
        .alias("_d"),
    )
    n = (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")).cast(
        "bigint"
    )
    ad_u = F.round(
        F.lit(1e9)
        * (
            (F.col("_a") * F.col("_d")).cast("double")
            / n.cast("double")
        )
    ).cast("bigint")
    bc_u = F.round(
        F.lit(1e9)
        * (
            (F.col("_b") * F.col("_c")).cast("double")
            / n.cast("double")
        )
    ).cast("bigint")
    per = g.select(n.alias("_n"), ad_u.alias("_adu"), bc_u.alias("_bcu"))
    return per.agg(
        F.count("*").cast("bigint").alias("k_strata"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum("_adu").cast("bigint").alias("ad_units"),
        F.sum("_bcu").cast("bigint").alias("bc_units"),
    ).select(
        "k_strata",
        "n_total",
        "ad_units",
        "bc_units",
        (
            F.col("ad_units").cast("double")
            / F.col("bc_units").cast("double")
        ).alias("or_mh"),
    )


register("mantel_haenszel", q_mantel_haenszel, """
        WITH cells AS (
          SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                 CASE WHEN CAST(round(value * 100) AS BIGINT) >= 24502
                      THEN 1 ELSE 0 END AS e,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS o
          FROM events WHERE value IS NOT NULL
        ), g AS (
          SELECT dow,
                 CAST(sum(e * o) AS BIGINT) AS a,
                 CAST(sum(e * (1 - o)) AS BIGINT) AS b,
                 CAST(sum((1 - e) * o) AS BIGINT) AS c,
                 CAST(sum((1 - e) * (1 - o)) AS BIGINT) AS d
          FROM cells GROUP BY 1
        ), per AS (
          SELECT CAST(a + b + c + d AS BIGINT) AS n,
                 CAST(round(1e9 * (CAST(a * d AS DOUBLE)
                                   / CAST(a + b + c + d AS DOUBLE)))
                      AS BIGINT) AS adu,
                 CAST(round(1e9 * (CAST(b * c AS DOUBLE)
                                   / CAST(a + b + c + d AS DOUBLE)))
                      AS BIGINT) AS bcu
          FROM g
        )
        SELECT CAST(count(*) AS BIGINT) AS k_strata,
               CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(adu) AS BIGINT) AS ad_units,
               CAST(sum(bcu) AS BIGINT) AS bc_units,
               CAST(sum(adu) AS DOUBLE) / CAST(sum(bcu) AS DOUBLE)
                 AS or_mh
        FROM per
    """)


def q_page_hinkley(spark, sf_dir):
    """Page-Hinkley drift detection (Page 1954; the Gama et al.
    2014 streaming formulation) per event type — the RUNNING-mean
    complement to cusum_by_type's global-mean CUSUM: m_t =
    Σ_{i≤t}(x_i − x̄_i − δ) with x̄_i the mean of the first i
    observations, excursion = m_t − min_{s≤t} m_s, alarm when the
    excursion exceeds λ.  Each term's running-mean deviation is
    (i·c_i − S_i)/i — a division on exact integers, quantized to
    nano-units (division-derived — IEEE-identical both engines) —
    so the m cumsum, running min, and excursion are exact
    DECIMAL(38,0)/HUGEINT integers.  δ = 5 cents, λ = 1e6 cents.

    Scale shape: one type-keyed exchange carries all four stacked
    windows (row_number, prefix sum, m cumsum, running min) —
    the cusum_by_type shape.  Returns per type (n_obs,
    peak_exc_units, n_alarms, first_alarm_id — NULL when the
    excursion never crosses λ)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    delta_u = 5 * 10**9
    lam_u = 10**6 * 10**9
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    base = e.select(
        "event_type", "event_id", "ts", cents.alias("_c")
    )
    d = base.withColumn(
        "_i", F.row_number().over(
            W.partitionBy("event_type").orderBy("ts", "event_id")
        ).cast("bigint")
    ).withColumn("_s", F.sum(F.col("_c").cast(dec)).over(w).cast(dec))
    u = d.select(
        "event_type",
        "event_id",
        "ts",
        (
            F.round(
                F.lit(1e9)
                * (
                    (
                        (F.col("_i").cast(dec) * F.col("_c")).cast(dec)
                        - F.col("_s")
                    ).cast("double")
                    / F.col("_i").cast("double")
                )
            ).cast("bigint")
            - F.lit(delta_u)
        ).alias("_u"),
    )
    m = u.withColumn(
        "_m", F.sum(F.col("_u").cast(dec)).over(w).cast(dec)
    ).withColumn(
        "_exc", (F.col("_m") - F.min("_m").over(w)).cast(dec)
    ).localCheckpoint(eager=False)  # two consumers: agg + first-alarm
    agg = m.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.max("_exc").alias("peak_exc_units"),
        F.sum(F.when(F.col("_exc") > lam_u, 1).otherwise(0))
        .cast("bigint")
        .alias("n_alarms"),
    )
    first = (
        m.filter(F.col("_exc") > lam_u)
        .groupBy("event_type")
        .agg(F.min(F.struct("ts", "event_id")).alias("_f"))
        .select(
            "event_type",
            F.col("_f.event_id").alias("first_alarm_id"),
        )
    )
    return agg.join(first, on="event_type", how="left").select(
        "event_type",
        "n_obs",
        "peak_exc_units",
        "n_alarms",
        "first_alarm_id",
    )


register("page_hinkley", q_page_hinkley, """
        WITH base AS (
          SELECT event_type, event_id, ts,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL
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
        ), m AS MATERIALIZED (
          SELECT event_type, event_id, ts,
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
        ), agg AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_obs,
                 CAST(max(exc) AS DECIMAL(38,0)) AS peak_exc_units,
                 CAST(sum(CASE WHEN exc > 1000000000000000
                               THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_alarms
          FROM m GROUP BY 1
        ), fst AS (
          SELECT event_type, event_id AS first_alarm_id
          FROM (
            SELECT event_type, event_id,
                   row_number() OVER (
                     PARTITION BY event_type ORDER BY ts, event_id
                   ) AS rn
            FROM m WHERE exc > 1000000000000000
          ) WHERE rn = 1
        )
        SELECT agg.event_type, agg.n_obs, agg.peak_exc_units,
               agg.n_alarms, fst.first_alarm_id
        FROM agg LEFT JOIN fst USING (event_type)
    """,
    casts={
        "event_type": None, "n_obs": None, "peak_exc_units": "bigint",
        "n_alarms": None, "first_alarm_id": None,
    })


def q_friedman_test(spark, sf_dir):
    """Friedman blocked rank test (Friedman 1937): do the event
    types differ in mean value CONSISTENTLY across day-of-week
    blocks?  Treatments = event types ranked within each complete
    dow block by mean cents; χ²_F = 3·ΣR2²/(b·k(k+1)) − 3b(k+1)
    on DOUBLED midranks (R2 = 2R keeps tie midranks integer, the
    kruskal_binned discipline).  Ranking compares the rational
    means EXACTLY by cross-multiplication (S_j·n_l vs S_l·n_j on
    exact DECIMAL operands — no float mean ever exists), so ranks
    are exact integers; only the final χ² re-enters floats on
    exact operands.  Blocks missing any treatment are dropped
    (classic complete-block design).

    Scale shape: one groupBy reduces events to the ≤(7·#types)
    cell table; the within-block pairwise compare, completeness
    filter, and rank rollup all run on that bounded control
    frame via broadcast joins.  Returns one row (k_treat,
    b_blocks, sum_r2_sq, chi2_f)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    cells = (
        e.select(
            F.dayofweek("ts").cast("bigint").alias("dow"),
            "event_type",
            cents.alias("_c"),
        )
        .groupBy("dow", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(F.col("_c").cast(dec)).alias("_s"),
        )
        .localCheckpoint(eager=False)  # k, blocks, both join sides
    )
    k = cells.agg(
        F.count_distinct("event_type").cast("bigint").alias("_k")
    )
    blocks = (
        cells.groupBy("dow")
        .agg(F.count("*").cast("bigint").alias("_bk"))
        .crossJoin(F.broadcast(k))
        .filter(F.col("_bk") == F.col("_k"))
        .select("dow")
    )
    c1 = cells.join(F.broadcast(blocks), on="dow")
    c2 = cells.select(
        F.col("dow").alias("_dw2"),
        F.col("_n").alias("_n2"),
        F.col("_s").alias("_s2"),
    )
    # exact rational compare: mean2 < mean1  <=>  s2*n1 < s1*n2
    ranked = (
        c1.join(F.broadcast(c2), F.col("_dw2") == F.col("dow"))
        .groupBy("dow", "event_type")
        .agg(
            (
                F.lit(2)
                * F.sum(
                    F.when(
                        F.col("_s2") * F.col("_n")
                        < F.col("_s") * F.col("_n2"),
                        1,
                    ).otherwise(0)
                )
                + F.sum(
                    F.when(
                        F.col("_s2") * F.col("_n")
                        == F.col("_s") * F.col("_n2"),
                        1,
                    ).otherwise(0)
                )
                + 1
            )
            .cast("bigint")
            .alias("_r2")
        )
    )
    rj = ranked.groupBy("event_type").agg(
        F.sum("_r2").cast("bigint").alias("_rj")
    )
    return (
        rj.agg(
            F.count("*").cast("bigint").alias("k_treat"),
            F.sum(
                (F.col("_rj").cast(dec) * F.col("_rj")).cast(dec)
            ).cast(dec).alias("sum_r2_sq"),
        )
        .crossJoin(
            F.broadcast(
                blocks.agg(
                    F.count("*").cast("bigint").alias("b_blocks")
                )
            )
        )
        .select(
            "k_treat",
            "b_blocks",
            "sum_r2_sq",
            (
                (F.lit(3).cast(dec) * F.col("sum_r2_sq")).cast(
                    "double"
                )
                / (
                    F.col("b_blocks")
                    * F.col("k_treat")
                    * (F.col("k_treat") + 1)
                ).cast("double")
                - (
                    F.lit(3)
                    * F.col("b_blocks")
                    * (F.col("k_treat") + 1)
                ).cast("double")
            ).alias("chi2_f"),
        )
    )


register("friedman_test", q_friedman_test, """
        WITH cells AS MATERIALIZED (
          SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(CAST(round(value * 100) AS BIGINT)
                          AS HUGEINT)) AS s
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), k AS (
          SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS k
          FROM cells
        ), blocks AS MATERIALIZED (
          SELECT dow FROM cells, k GROUP BY dow, k.k
          HAVING count(*) = any_value(k.k)
        ), ranked AS (
          SELECT c1.dow, c1.event_type,
                 CAST(2 * sum(CASE WHEN c2.s * c1.n < c1.s * c2.n
                              THEN 1 ELSE 0 END)
                      + sum(CASE WHEN c2.s * c1.n = c1.s * c2.n
                            THEN 1 ELSE 0 END) + 1 AS BIGINT) AS r2
          FROM cells c1
          JOIN blocks USING (dow)
          JOIN cells c2 ON c2.dow = c1.dow
          GROUP BY 1, 2
        ), rj AS (
          SELECT event_type, CAST(sum(r2) AS BIGINT) AS rj
          FROM ranked GROUP BY 1
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS k_treat,
                 sum(CAST(rj AS HUGEINT) * rj) AS sum_r2_sq
          FROM rj
        ), b AS (
          SELECT CAST(count(*) AS BIGINT) AS b_blocks FROM blocks
        )
        SELECT k_treat, b_blocks,
               CAST(sum_r2_sq AS DECIMAL(38,0)) AS sum_r2_sq,
               CAST(3 * sum_r2_sq AS DOUBLE)
                 / CAST(b_blocks * k_treat * (k_treat + 1) AS DOUBLE)
               - CAST(3 * b_blocks * (k_treat + 1) AS DOUBLE)
                 AS chi2_f
        FROM tot, b
    """,
    casts={"k_treat": None, "b_blocks": None, "sum_r2_sq": "bigint", "chi2_f": None})


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend slope (Theil 1950 / Sen 1968) per
    event type on the 1024-bin time grid — the outlier-robust
    complement to ols_by_type's least-squares fit: the estimator
    is the MEDIAN of all pairwise bin-mean slopes.  Each slope
    (mean_j − mean_i)/(bin_j − bin_i) is one division of exact
    integers — numerator (S_j·n_i − S_i·n_j), denominator
    (bin_j − bin_i)·n_i·n_j, both DECIMAL-exact then cast — so
    every slope is bit-identical across engines, and the median
    is the deterministic lower order statistic under the total
    order (slope, i, j) — never a float interpolation.

    Scale shape: the events reduce to the bounded ≤1024-bin
    table per type (binseg_changepoints' grid); the pair frame
    is a broadcast self-join on that control frame (≤ k·1024²/2
    rows regardless of data size); the median is one per-type
    rank window on the bounded frame.  Returns (event_type,
    n_bins, n_pairs, slope — cents per bin)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    rng = e.agg(
        F.min(F.unix_micros("ts")).alias("_t0"),
        F.max(F.unix_micros("ts")).alias("_t1"),
    )
    b = (
        e.crossJoin(F.broadcast(rng))
        .select(
            "event_type",
            F.expr(
                "((unix_micros(ts) - _t0) * 1024)"
                " div (_t1 - _t0 + 1)"
            ).cast("bigint").alias("bin"),
            F.round(F.col("value") * 100).cast("bigint").alias("_c"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(F.col("_c").cast(dec)).alias("_s"),
        )
        .localCheckpoint(eager=False)  # both self-join sides
    )
    b2 = b.select(
        F.col("event_type").alias("_et2"),
        F.col("bin").alias("_b2"),
        F.col("_n").alias("_n2"),
        F.col("_s").alias("_s2"),
    )
    pairs = (
        b.join(
            F.broadcast(b2),
            (F.col("_et2") == F.col("event_type"))
            & (F.col("_b2") > F.col("bin")),
        )
        .select(
            "event_type",
            "bin",
            "_b2",
            (
                (F.col("_s2") * F.col("_n") - F.col("_s") * F.col("_n2"))
                .cast(dec)
                .cast("double")
                / (
                    (F.col("_b2") - F.col("bin")).cast(dec)
                    * F.col("_n")
                    * F.col("_n2")
                ).cast(dec).cast("double")
            ).alias("_slope"),
        )
    )
    wr = W.partitionBy("event_type").orderBy(
        F.col("_slope").asc(), F.col("bin").asc(), F.col("_b2").asc()
    )
    ranked = pairs.withColumn(
        "_rk", F.row_number().over(wr).cast("bigint")
    ).localCheckpoint(eager=False)  # count + median pick
    cnt = ranked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    nb = b.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_bins")
    )
    med = (
        ranked.join(F.broadcast(cnt), on="event_type")
        .filter(F.col("_rk") == F.expr("(n_pairs + 1) div 2"))
        .select("event_type", F.col("_slope").alias("slope"))
    )
    return (
        nb.join(F.broadcast(cnt), on="event_type")
        .join(med, on="event_type")
        .select("event_type", "n_bins", "n_pairs", "slope")
    )


register("theil_sen", q_theil_sen, """
        WITH rng AS (
          SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
          FROM events WHERE value IS NOT NULL
        ), b AS MATERIALIZED (
          SELECT event_type,
                 CAST(((epoch_us(ts) - t0) * 1024)
                      // (t1 - t0 + 1) AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(CAST(round(value * 100) AS BIGINT)
                          AS HUGEINT)) AS s
          FROM events, rng WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), pairs AS (
          SELECT b1.event_type, b1.bin AS i, b2.bin AS j,
                 CAST(b2.s * b1.n - b1.s * b2.n AS DOUBLE)
                 / CAST(CAST(b2.bin - b1.bin AS HUGEINT)
                        * b1.n * b2.n AS DOUBLE) AS slope
          FROM b b1 JOIN b b2 ON b2.event_type = b1.event_type
                             AND b2.bin > b1.bin
        ), ranked AS MATERIALIZED (
          SELECT event_type, slope,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY slope ASC, i ASC, j ASC
                 ) AS rk
          FROM pairs
        ), cnt AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs
          FROM ranked GROUP BY 1
        ), nb AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_bins
          FROM b GROUP BY 1
        )
        SELECT nb.event_type, nb.n_bins, cnt.n_pairs, r.slope
        FROM nb
        JOIN cnt USING (event_type)
        JOIN ranked r ON r.event_type = nb.event_type
                     AND r.rk = (cnt.n_pairs + 1) // 2
    """)


def q_gini_by_type(spark, sf_dir):
    """Gini coefficient of the value distribution per event type
    (the order-statistics identity G = (2·Σi·x_(i) − (n+1)·Σx) /
    (n·Σx)) — the inequality/concentration measure a spend or
    engagement analysis reports next to the mean.  Ranks are a
    per-type window ordered by (cents, event_id); Σi·x_i is
    invariant to tie order, so the value is deterministic.  All
    moments are exact DECIMAL(38,0)/HUGEINT; G is one float
    division of exact operands.  Returns (event_type, n, gini)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = W.partitionBy("event_type").orderBy("_c", "event_id")
    d = e.select(
        "event_type", "event_id", cents.alias("_c")
    ).withColumn("_i", F.row_number().over(w).cast("bigint"))
    g = d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("_c").cast(dec)).alias("_sx"),
        F.sum((F.col("_i").cast(dec) * F.col("_c")).cast(dec)).alias(
            "_six"
        ),
    )
    num = (
        F.lit(2).cast(dec) * F.col("_six")
        - (F.col("n") + 1).cast(dec) * F.col("_sx")
    ).cast(dec)
    den = (F.col("n").cast(dec) * F.col("_sx")).cast(dec)
    return g.select(
        "event_type",
        "n",
        (num.cast("double") / den.cast("double")).alias("gini"),
    )


register("gini_by_type", q_gini_by_type, """
        WITH d AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS c,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(round(value * 100) AS BIGINT),
                            event_id
                 ) AS i
          FROM events WHERE value IS NOT NULL
        ), g AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(c AS HUGEINT)) AS sx,
                 sum(CAST(i AS HUGEINT) * c) AS six
          FROM d GROUP BY 1
        )
        SELECT event_type, n,
               CAST(2 * six - (n + 1) * sx AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * sx AS DOUBLE) AS gini
        FROM g
    """)


def q_trimmed_mean(spark, sf_dir):
    """5%-trimmed mean of value per event type — the robust
    location estimate next to gini_by_type's dispersion: drop the
    lowest and highest floor(n/20) observations by the
    deterministic (cents, event_id) order, average the rest.
    The trim bounds are pure integer arithmetic (rk > n div 20
    and rk <= n − n div 20), the kept sum is exact DECIMAL, and
    the mean is one float division — bit-equal on any
    partitioning.  Returns (event_type, n, n_kept,
    trimmed_mean_cents)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = W.partitionBy("event_type").orderBy("_c", "event_id")
    d = e.select(
        "event_type", "event_id", cents.alias("_c")
    ).withColumn("_i", F.row_number().over(w).cast("bigint"))
    tot = d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    kept = (
        d.join(F.broadcast(tot), on="event_type")
        .filter(
            (F.col("_i") > F.expr("n div 20"))
            & (F.col("_i") <= F.col("n") - F.expr("n div 20"))
        )
        .groupBy("event_type", "n")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum(F.col("_c").cast(dec)).alias("_sk"),
        )
    )
    return kept.select(
        "event_type",
        "n",
        "n_kept",
        (
            F.col("_sk").cast("double") / F.col("n_kept").cast("double")
        ).alias("trimmed_mean_cents"),
    )


register("trimmed_mean", q_trimmed_mean, """
        WITH d AS (
          SELECT event_type, event_id,
                 CAST(round(value * 100) AS BIGINT) AS c,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(round(value * 100) AS BIGINT),
                            event_id
                 ) AS i
          FROM events WHERE value IS NOT NULL
        ), tot AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY 1
        ), kept AS (
          SELECT d.event_type, tot.n,
                 CAST(count(*) AS BIGINT) AS n_kept,
                 sum(CAST(d.c AS HUGEINT)) AS sk
          FROM d JOIN tot USING (event_type)
          WHERE d.i > tot.n // 20 AND d.i <= tot.n - tot.n // 20
          GROUP BY 1, 2
        )
        SELECT event_type, n, n_kept,
               CAST(sk AS DOUBLE) / CAST(n_kept AS DOUBLE)
                 AS trimmed_mean_cents
        FROM kept
    """)


def q_kendall_tau_binned(spark, sf_dir):
    """Kendall rank correlation τ-b between time and value per
    event type on the 1024-bin grid (Kendall 1938) — the
    rank-correlation complement to spearman_binned and the
    concordance view of theil_sen's slope: over bin pairs i < j,
    concordant iff mean_j > mean_i, discordant iff <, tied iff =,
    with the mean comparison done EXACTLY by cross-multiplication
    (S_j·n_i vs S_i·n_j, DECIMAL operands — no float mean).
    τ-b = (nc − nd)/sqrt((N0 − T_v)·N0) with N0 = n(n−1)/2 and
    T_v the value-tie pair count — all exact int64, one sqrt
    chain at the end (sqrt is IEEE-correctly-rounded, not a
    transcendental approximation).

    Scale shape: bounded ≤1024-bin control frame per type; the
    pair count aggregates the broadcast self-join
    (decision_stump/theil_sen precedent).  Returns (event_type,
    n_bins, nc, nd, n_tied, tau_b)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    rng = e.agg(
        F.min(F.unix_micros("ts")).alias("_t0"),
        F.max(F.unix_micros("ts")).alias("_t1"),
    )
    b = (
        e.crossJoin(F.broadcast(rng))
        .select(
            "event_type",
            F.expr(
                "((unix_micros(ts) - _t0) * 1024)"
                " div (_t1 - _t0 + 1)"
            ).cast("bigint").alias("bin"),
            F.round(F.col("value") * 100).cast("bigint").alias("_c"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(F.col("_c").cast(dec)).alias("_s"),
        )
        .localCheckpoint(eager=False)  # both self-join sides
    )
    b2 = b.select(
        F.col("event_type").alias("_et2"),
        F.col("bin").alias("_b2"),
        F.col("_n").alias("_n2"),
        F.col("_s").alias("_s2"),
    )
    m1 = F.col("_s") * F.col("_n2")
    m2 = F.col("_s2") * F.col("_n")
    g = (
        b.join(
            F.broadcast(b2),
            (F.col("_et2") == F.col("event_type"))
            & (F.col("_b2") > F.col("bin")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.when(m2 > m1, 1).otherwise(0))
            .cast("bigint")
            .alias("nc"),
            F.sum(F.when(m2 < m1, 1).otherwise(0))
            .cast("bigint")
            .alias("nd"),
            F.sum(F.when(m2 == m1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_tied"),
        )
    )
    nb = b.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_bins")
    )
    n0 = (F.col("nc") + F.col("nd") + F.col("n_tied")).cast("bigint")
    tau = (F.col("nc") - F.col("nd")).cast("double") / F.sqrt(
        ((n0 - F.col("n_tied")).cast(dec) * n0).cast("double")
    )
    return (
        nb.join(g, on="event_type")
        .select(
            "event_type", "n_bins", "nc", "nd", "n_tied",
            tau.alias("tau_b"),
        )
    )


register("kendall_tau_binned", q_kendall_tau_binned, """
        WITH rng AS (
          SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
          FROM events WHERE value IS NOT NULL
        ), b AS MATERIALIZED (
          SELECT event_type,
                 CAST(((epoch_us(ts) - t0) * 1024)
                      // (t1 - t0 + 1) AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(CAST(round(value * 100) AS BIGINT)
                          AS HUGEINT)) AS s
          FROM events, rng WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), g AS (
          SELECT b1.event_type,
                 CAST(sum(CASE WHEN b2.s * b1.n > b1.s * b2.n
                          THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                 CAST(sum(CASE WHEN b2.s * b1.n < b1.s * b2.n
                          THEN 1 ELSE 0 END) AS BIGINT) AS nd,
                 CAST(sum(CASE WHEN b2.s * b1.n = b1.s * b2.n
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_tied
          FROM b b1 JOIN b b2 ON b2.event_type = b1.event_type
                             AND b2.bin > b1.bin
          GROUP BY 1
        ), nb AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_bins
          FROM b GROUP BY 1
        )
        SELECT nb.event_type, nb.n_bins, g.nc, g.nd, g.n_tied,
               CAST(g.nc - g.nd AS DOUBLE)
               / sqrt(CAST(CAST(g.nc + g.nd + g.n_tied - g.n_tied
                                AS HUGEINT)
                           * (g.nc + g.nd + g.n_tied) AS DOUBLE))
                 AS tau_b
        FROM nb JOIN g USING (event_type)
    """)


def q_brier_score(spark, sf_dir):
    """Brier score of the day-of-week purchase-rate predictor
    (Brier 1950) — the calibration-eval closed form: with
    p̂(dow) = purchases_d/n_d and y ∈ {0,1},
    Σ(p̂ − y)² = Σ_d (pos_d − pos_d²/n_d), so the whole score
    reduces to the 7-row dow table: each pos²/n term is
    quantized to integer nano-units (division-derived), the
    cross-dow sum is exact int64, and Brier = units/(N·1e9) is
    one float chain.  Returns one row (n_total, brier_units,
    brier)."""
    e = _events(spark, sf_dir)
    g = e.select(
        F.dayofweek("ts").cast("bigint").alias("dow"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("_y"),
    ).groupBy("dow").agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("_y").cast("bigint").alias("_p"),
    )
    u = (
        F.col("_p") * F.lit(10**9).cast("bigint")
        - F.round(
            F.lit(1e9)
            * (
                (F.col("_p") * F.col("_p")).cast("double")
                / F.col("_n").cast("double")
            )
        ).cast("bigint")
    )
    return g.agg(
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum(u).cast("bigint").alias("brier_units"),
    ).select(
        "n_total",
        "brier_units",
        (
            F.col("brier_units").cast("double")
            / (F.col("n_total").cast("double") * F.lit(1e9))
        ).alias("brier"),
    )


register("brier_score", q_brier_score, """
        WITH g AS (
          SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS p
          FROM events GROUP BY 1
        ), u AS (
          SELECT n,
                 p * 1000000000
                 - CAST(round(1e9 * (CAST(p * p AS DOUBLE)
                                     / CAST(n AS DOUBLE)))
                        AS BIGINT) AS bu
          FROM g
        )
        SELECT CAST(sum(n) AS BIGINT) AS n_total,
               CAST(sum(bu) AS BIGINT) AS brier_units,
               CAST(sum(bu) AS DOUBLE)
                 / (CAST(sum(n) AS DOUBLE) * 1e9) AS brier
        FROM u
    """)


def q_pinball_quantile(spark, sf_dir):
    """Exact τ=0.9 quantile via pinball-loss minimization
    (Koenker & Bassett 1978) per event type — quantile estimation
    as an ARGMIN the decision_stump way, not an order statistic:
    over the 1024 fixed cent-bin candidates q, 10·loss(q) =
    1·Σ_{x<q}(q−x) + 9·Σ_{x≥q}(x−q) is exact integer arithmetic
    from cumulative (n, S) bin moments (τ=0.9 scaled by 10), and
    the argmin is a struct-min with ascending-bin tie-break — no
    float ever enters the decision.  Cross-checks the sort-based
    quantile family (rolling_median / length_quantiles) with an
    optimization-based estimator.

    Scale shape: one groupBy to the ≤1024-row cent-bin table per
    type; cumulative moments via the bounded broadcast inequality
    join; candidate loss and argmin on the control frame.
    Returns (event_type, q_bin, n_below, loss_units)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    cents = F.round(F.col("value") * 100).cast("bigint")
    binc = F.floor(
        (cents * 1024).cast("double") / F.lit(49003.0)
    ).cast("bigint")
    # bin value representative: the bin's lower cent edge
    # q(bin) = ceil(bin * 49003 / 1024) — integer, identical both
    # engines on non-negative operands
    b = (
        e.select("event_type", binc.alias("bin"), cents.alias("_c"))
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(F.col("_c").cast(dec)).alias("_s"),
        )
        .localCheckpoint(eager=False)  # cum join both sides + tot
    )
    tot = b.groupBy("event_type").agg(
        F.sum("_n").cast("bigint").alias("_nt"),
        F.sum("_s").cast(dec).alias("_st"),
    )
    b2 = b.select(
        F.col("event_type").alias("_et2"),
        F.col("bin").alias("_b2"),
        F.col("_n").alias("_n2"),
        F.col("_s").alias("_s2"),
    )
    # strictly-below cumulative: bins < candidate bin
    cum = (
        b.join(
            F.broadcast(b2),
            (F.col("_et2") == F.col("event_type"))
            & (F.col("_b2") < F.col("bin")),
            "left",
        )
        .groupBy("event_type", "bin")
        .agg(
            F.coalesce(F.sum("_n2"), F.lit(0))
            .cast("bigint")
            .alias("n_below"),
            F.coalesce(F.sum("_s2"), F.lit(0).cast(dec))
            .cast(dec)
            .alias("_sb"),
        )
    )
    # ceil(bin*49003/1024) on non-negative operands: (a + 1023) div 1024
    qv = F.expr("(bin * 49003 + 1023) div 1024").cast(dec)
    loss = (
        (
            qv * F.col("n_below").cast(dec) - F.col("_sb")
        ).cast(dec)
        + F.lit(9).cast(dec)
        * (
            (F.col("_st") - F.col("_sb"))
            - qv * (F.col("_nt") - F.col("n_below")).cast(dec)
        ).cast(dec)
    ).cast(dec)
    best = (
        cum.join(F.broadcast(tot), on="event_type")
        .groupBy("event_type")
        .agg(
            F.min(
                F.struct(
                    loss.alias("loss_units"),
                    F.col("bin").alias("q_bin"),
                    F.col("n_below").alias("n_below"),
                )
            ).alias("_b")
        )
    )
    return best.select(
        "event_type",
        F.col("_b.q_bin").alias("q_bin"),
        F.col("_b.n_below").alias("n_below"),
        F.col("_b.loss_units").alias("loss_units"),
    )


register("pinball_quantile", q_pinball_quantile, """
        WITH b AS MATERIALIZED (
          SELECT event_type,
                 CAST(floor(CAST(CAST(round(value * 100) AS BIGINT)
                                 * 1024 AS DOUBLE) / 49003.0)
                      AS BIGINT) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(CAST(round(value * 100) AS BIGINT)
                          AS HUGEINT)) AS s
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), tot AS (
          SELECT event_type, CAST(sum(n) AS BIGINT) AS nt,
                 CAST(sum(s) AS HUGEINT) AS st
          FROM b GROUP BY 1
        ), cum AS (
          SELECT b1.event_type, b1.bin,
                 CAST(COALESCE(sum(b2.n), 0) AS BIGINT) AS n_below,
                 CAST(COALESCE(sum(b2.s), 0) AS HUGEINT) AS sb
          FROM b b1
          LEFT JOIN b b2 ON b2.event_type = b1.event_type
                        AND b2.bin < b1.bin
          GROUP BY 1, 2
        ), loss AS (
          SELECT cum.event_type, cum.bin, cum.n_below,
                 CAST(((cum.bin * 49003 + 1023) // 1024)
                      AS HUGEINT) * cum.n_below - cum.sb
                 + 9 * ((tot.st - cum.sb)
                        - CAST(((cum.bin * 49003 + 1023) // 1024)
                               AS HUGEINT)
                          * (tot.nt - cum.n_below)) AS lu
          FROM cum JOIN tot USING (event_type)
        )
        SELECT event_type, bin AS q_bin, n_below,
               CAST(lu AS DECIMAL(38,0)) AS loss_units
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY event_type ORDER BY lu ASC, bin ASC
                 ) AS rn
          FROM loss
        ) WHERE rn = 1
    """,
    casts={"event_type": None, "q_bin": None, "n_below": None, "loss_units": "bigint"})


def q_mad_by_type(spark, sf_dir):
    """Median absolute deviation per event type (the robust scale
    estimate next to trimmed_mean's location and gini's
    concentration): med = lower-median cents by the deterministic
    (cents, event_id) rank, then MAD = lower median of |x − med|
    under the same rank discipline — two rank windows, all exact
    int64, zero floats.  Returns (event_type, n, median_cents,
    mad_cents)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = W.partitionBy("event_type").orderBy("_c", "event_id")
    d = e.select(
        "event_type", "event_id", cents.alias("_c")
    ).withColumn(
        "_i", F.row_number().over(w).cast("bigint")
    ).localCheckpoint(eager=False)  # median pick + deviation pass
    tot = d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    med = (
        d.join(F.broadcast(tot), on="event_type")
        .filter(F.col("_i") == F.expr("(n + 1) div 2"))
        .select("event_type", "n", F.col("_c").alias("median_cents"))
    )
    dev = d.join(F.broadcast(med), on="event_type").select(
        "event_type",
        "n",
        "median_cents",
        "event_id",
        F.abs(F.col("_c") - F.col("median_cents")).alias("_a"),
    )
    w2 = W.partitionBy("event_type").orderBy("_a", "event_id")
    return (
        dev.withColumn(
            "_j", F.row_number().over(w2).cast("bigint")
        )
        .filter(F.col("_j") == F.expr("(n + 1) div 2"))
        .select(
            "event_type",
            "n",
            "median_cents",
            F.col("_a").alias("mad_cents"),
        )
    )


register("mad_by_type", q_mad_by_type, """
        WITH d AS MATERIALIZED (
          SELECT event_type, event_id,
                 CAST(round(value * 100) AS BIGINT) AS c,
                 row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(round(value * 100) AS BIGINT),
                            event_id
                 ) AS i
          FROM events WHERE value IS NOT NULL
        ), tot AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY 1
        ), med AS (
          SELECT d.event_type, tot.n, d.c AS median_cents
          FROM d JOIN tot USING (event_type)
          WHERE d.i = (tot.n + 1) // 2
        ), dev AS (
          SELECT d.event_type, med.n, med.median_cents,
                 abs(d.c - med.median_cents) AS a,
                 row_number() OVER (
                   PARTITION BY d.event_type
                   ORDER BY abs(d.c - med.median_cents), d.event_id
                 ) AS j
          FROM d JOIN med USING (event_type)
        )
        SELECT event_type, n, median_cents,
               CAST(a AS BIGINT) AS mad_cents
        FROM dev WHERE j = (n + 1) // 2
    """)

_boot_cuts = []
_acc = 0.0
for _k in range(9):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _boot_cuts.append(int(math.floor(_acc * 4294967296.0)))

_boot_h = sampling.salted_hash_sql(
    "CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)", "boot"
)

_boot_case = " ".join(
    f"WHEN ({_boot_h}) < {c} THEN {k}"
    for k, c in enumerate(_boot_cuts)
)


def q_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap 90% CI for the mean value per event type
    (Efron 1979; the Poisson(1)-weight formulation is THE
    distributed bootstrap — no per-replicate resample pass, one
    weight per (row, replicate)): 32 replicates, each row's
    replicate weight w = inverse-CDF lookup of a salted integer
    hash against DRIVER-SIDE Poisson(1) cumulative cutoffs scaled
    to the 2^32 hash space — pure integer compares, no float u
    ever exists.  Replicate means are division-derived nano-units
    (exact operands Σw·c / Σw), and the CI is the (2nd, 31st)
    order statistic of the 32 means — deterministic, no
    interpolation.

    Scale shape: the 32× replicate explode happens on the scan
    and feeds straight into a map-side-combined (type, replicate)
    aggregate — no join ever sees the exploded rows (the
    xcorr_lags lesson); the 32-row-per-type mean table then takes
    one bounded rank window.  Returns (event_type, n_reps,
    mean_lo_units, mean_hi_units)."""
    import math as _math

    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    # Poisson(1) CDF cutoffs scaled to the 2^32 hash space —
    # driver-side constants embedded identically in both engines
    cuts = []
    acc = 0.0
    for k in range(9):
        acc += _math.exp(-1.0) / _math.factorial(k)
        cuts.append(int(_math.floor(acc * 4294967296.0)))
    reps = F.explode(
        F.array(*[F.lit(r).cast("bigint") for r in range(32)])
    )
    d = e.select(
        "event_type", "event_id", cents.alias("_c")
    ).withColumn("_r", reps)
    h = sampling.salted_hash(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit(":"),
            F.col("_r").cast("string"),
        ),
        "boot",
    )
    w = F.when(h < cuts[0], 0)
    for k in range(1, 9):
        w = w.when(h < cuts[k], k)
    w = w.otherwise(9)
    m = (
        d.withColumn("_w", w.cast("bigint"))
        .groupBy("event_type", "_r")
        .agg(
            F.sum("_w").cast("bigint").alias("_n"),
            F.sum(F.col("_w") * F.col("_c"))
            .cast("bigint")
            .alias("_s"),
        )
        .filter(F.col("_n") > 0)
        .select(
            "event_type",
            "_r",
            F.round(
                F.lit(1e9)
                * (F.col("_s").cast("double") / F.col("_n").cast("double"))
            )
            .cast("bigint")
            .alias("_mu"),
        )
    )
    wr = W.partitionBy("event_type").orderBy("_mu", "_r")
    ranked = m.withColumn("_rk", F.row_number().over(wr))
    return ranked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_reps"),
        F.max(F.when(F.col("_rk") == 2, F.col("_mu"))).alias(
            "mean_lo_units"
        ),
        F.max(F.when(F.col("_rk") == 31, F.col("_mu"))).alias(
            "mean_hi_units"
        ),
    )


register("bootstrap_ci", q_bootstrap_ci, lambda: f"""
        WITH d AS (
          SELECT event_type, event_id,
                 CAST(round(value * 100) AS BIGINT) AS c,
                 CAST(u.r AS BIGINT) AS r
          FROM events, unnest(range(0, 32)) AS u(r)
          WHERE value IS NOT NULL
        ), wt AS (
          SELECT event_type, r,
                 CAST(CASE {_boot_case} ELSE 9 END AS BIGINT) AS w,
                 c
          FROM d
        ), m AS (
          SELECT event_type, r,
                 CAST(round(1e9 * (CAST(sum(w * c) AS DOUBLE)
                                   / CAST(sum(w) AS DOUBLE)))
                      AS BIGINT) AS mu
          FROM wt GROUP BY 1, 2
          HAVING sum(w) > 0
        ), ranked AS (
          SELECT event_type, mu,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY mu, r
                 ) AS rk
          FROM m
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_reps,
               max(CASE WHEN rk = 2 THEN mu END) AS mean_lo_units,
               max(CASE WHEN rk = 31 THEN mu END) AS mean_hi_units
        FROM ranked GROUP BY 1
    """)


def q_forecast_mae(spark, sf_dir):
    """Forecast-baseline evaluation per event type: MAE of the
    naive (yesterday's value) vs seasonal-naive (same weekday
    last week) predictors on the DAILY mean value series — the
    backtest harness that decides whether holt_forecast's
    smoothing earns its keep (Hyndman & Athanasopoulos'
    benchmark discipline: a model that cannot beat
    seasonal-naive is noise).  Daily means quantize to
    nano-units (division-derived); lag-1 and lag-7 errors are
    exact integer |diffs| via two per-type lag windows over the
    bounded daily table; each MAE is one final division.
    Returns (event_type, n_days, mae_naive_units,
    mae_seasonal_units)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    dec = "decimal(38,0)"
    # TZ-free day index: integer div of non-negative epoch micros
    # (cast-through-date is session-timezone-dependent — the
    # vanilla-probe trap)
    day = F.expr("unix_micros(ts) div 86400000000")
    daily = (
        e.select(
            "event_type",
            day.cast("bigint").alias("_d"),
            cents.alias("_c"),
        )
        .groupBy("event_type", "_d")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum(F.col("_c").cast(dec)).alias("_s"),
        )
        .select(
            "event_type",
            "_d",
            F.round(
                F.lit(1e9)
                * (
                    F.col("_s").cast("double")
                    / F.col("_n").cast("double")
                )
            ).cast("bigint").alias("_mu"),
        )
    )
    w = W.partitionBy("event_type").orderBy("_d")
    lagged = daily.select(
        "event_type",
        "_d",
        "_mu",
        F.lag("_mu", 1).over(w).alias("_p1"),
        F.lag("_mu", 7).over(w).alias("_p7"),
        F.lag("_d", 1).over(w).alias("_d1"),
        F.lag("_d", 7).over(w).alias("_d7"),
    ).filter(
        F.col("_p1").isNotNull()
        & F.col("_p7").isNotNull()
        # contiguity: the lag-1 row is yesterday, lag-7 a week ago
        & (F.col("_d") - F.col("_d1") == 1)
        & (F.col("_d") - F.col("_d7") == 7)
    )
    return lagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        (
            F.sum(F.abs(F.col("_mu") - F.col("_p1"))).cast("double")
            / F.count("*").cast("double")
        ).alias("mae_naive_units"),
        (
            F.sum(F.abs(F.col("_mu") - F.col("_p7"))).cast("double")
            / F.count("*").cast("double")
        ).alias("mae_seasonal_units"),
    )


register("forecast_mae", q_forecast_mae, """
        WITH daily AS (
          SELECT event_type,
                 CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                 CAST(round(1e9 * (
                   CAST(sum(CAST(CAST(round(value * 100) AS BIGINT)
                                 AS HUGEINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE))) AS BIGINT) AS mu
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), lagged AS (
          SELECT event_type, d, mu,
                 lag(mu, 1) OVER (
                   PARTITION BY event_type ORDER BY d) AS p1,
                 lag(mu, 7) OVER (
                   PARTITION BY event_type ORDER BY d) AS p7,
                 lag(d, 1) OVER (
                   PARTITION BY event_type ORDER BY d) AS d1,
                 lag(d, 7) OVER (
                   PARTITION BY event_type ORDER BY d) AS d7
          FROM daily
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(abs(mu - p1)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS mae_naive_units,
               CAST(sum(abs(mu - p7)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS mae_seasonal_units
        FROM lagged
        WHERE p1 IS NOT NULL AND p7 IS NOT NULL
          AND d - d1 = 1 AND d - d7 = 7
        GROUP BY 1
    """)


def q_conformal_threshold(spark, sf_dir):
    """Split-conformal calibration threshold per event type
    (Vovk et al. 2005; Lei et al. 2018) — the
    distribution-free prediction-interval primitive an eval
    pipeline hangs on model scores: the even-event_id half trains
    a mean predictor, the odd half calibrates, and the threshold
    is the ceil((n_cal+1)(1−α))-th smallest nonconformity with
    α=0.1.  Exactness: the nonconformity |c·n_tr − s_tr| clears
    the mean's division entirely (exact int64 — the predicted
    mean is s_tr/n_tr, so |c − mean|·n_tr needs no float); the
    quantile index is exact integer ceil via (9·(n_cal+1)+9) div
    10 on non-negative operands; the pick is a deterministic
    (a, event_id) rank.  Scale: one grouped agg + one broadcast
    join + one per-type rank window.  Returns (event_type,
    n_train, n_cal, k_idx, q_units) where q_units is in
    cents·n_train units."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    d = e.select(
        "event_type",
        "event_id",
        cents.alias("_c"),
        (F.col("event_id") % 2 == 0).alias("_tr"),
    )
    tr = d.filter("_tr").groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_train"),
        F.sum(F.col("_c").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("_s_tr"),
    )
    cal = (
        d.filter(~F.col("_tr"))
        .join(F.broadcast(tr), on="event_type")
        .select(
            "event_type",
            "n_train",
            "event_id",
            F.abs(
                F.col("_c") * F.col("n_train") - F.col("_s_tr")
            ).alias("_a"),
        )
    )
    wr = W.partitionBy("event_type").orderBy("_a", "event_id")
    ranked = cal.withColumn(
        "_i", F.row_number().over(wr).cast("bigint")
    )
    nc = ranked.groupBy("event_type", "n_train").agg(
        F.count("*").cast("bigint").alias("n_cal")
    )
    return (
        ranked.join(F.broadcast(nc), on=["event_type", "n_train"])
        .filter(
            F.col("_i")
            == F.expr("(9 * (n_cal + 1) + 9) div 10")
        )
        .select(
            "event_type",
            "n_train",
            "n_cal",
            F.col("_i").alias("k_idx"),
            F.col("_a").alias("q_units"),
        )
    )


register("conformal_threshold", q_conformal_threshold, """
        WITH d AS MATERIALIZED (
          SELECT event_type, event_id,
                 CAST(round(value * 100) AS BIGINT) AS c,
                 event_id % 2 = 0 AS tr
          FROM events WHERE value IS NOT NULL
        ), trn AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
                 CAST(sum(CAST(c AS HUGEINT)) AS BIGINT) AS s_tr
          FROM d WHERE tr GROUP BY 1
        ), cal AS (
          SELECT d.event_type, trn.n_train, d.event_id,
                 abs(d.c * trn.n_train - trn.s_tr) AS a
          FROM d JOIN trn USING (event_type) WHERE NOT d.tr
        ), ranked AS (
          SELECT event_type, n_train, a,
                 row_number() OVER (
                   PARTITION BY event_type ORDER BY a, event_id
                 ) AS i,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_cal
          FROM cal
        )
        SELECT event_type, n_train, n_cal,
               CAST(i AS BIGINT) AS k_idx,
               CAST(a AS BIGINT) AS q_units
        FROM ranked
        WHERE i = (9 * (n_cal + 1) + 9) // 10
    """)


def q_psi_drift(spark, sf_dir):
    """Population stability index terms per event type — the
    standard production drift metric on a numeric feature
    (banking scorecard lineage; the numeric-feature complement to
    term_drift's vocabulary JS): the time range splits at its
    midpoint, values bin into 10 equal-width cents bins over the
    per-type full range, and each present bin emits its add-one-
    smoothed PSI term (p̂−q̂)·ln(p̂/q̂).  Exactness: bin = ((c −
    cmin)·10) div (cmax − cmin + 1) on non-negative operands
    (Spark div == DuckDB // there); counts exact int64; p̂, q̂,
    and the ratio argument ((p+1)·(nq+10))/((q+1)·(np+10)) are
    division-derived doubles (IEEE-identical) and ln stays
    UNROUNDED output (woe_encode precedent).  Terms are emitted
    PER BIN — never float-summed across bins — so no
    order-sensitive float aggregation exists.  Scale: two grouped
    aggs + broadcast joins; bins bounded at 10.  Returns
    (event_type, bin, p_cnt, q_cnt, psi_term)."""
    e = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    us = F.expr("unix_micros(ts)")
    d = e.select(
        "event_type", us.alias("_us"), cents.alias("_c")
    )
    rng = d.groupBy("event_type").agg(
        F.min("_us").alias("_lo"),
        F.max("_us").alias("_hi"),
        F.min("_c").alias("_cmin"),
        F.max("_c").alias("_cmax"),
    )
    binned = d.join(F.broadcast(rng), on="event_type").select(
        "event_type",
        F.expr(
            "((_c - _cmin) * 10) div (_cmax - _cmin + 1)"
        ).alias("bin"),
        # 2·offset < span+1 keeps the half-split comparison in
        # exact integers (a `/ 2` would go through double)
        (
            (F.col("_us") - F.col("_lo")) * 2
            < F.col("_hi") - F.col("_lo") + 1
        ).alias("_first_half"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("_first_half"), 1).otherwise(0))
        .cast("bigint")
        .alias("p_cnt"),
        F.sum(F.when(~F.col("_first_half"), 1).otherwise(0))
        .cast("bigint")
        .alias("q_cnt"),
    )
    tots = counts.groupBy("event_type").agg(
        F.sum("p_cnt").cast("bigint").alias("_np"),
        F.sum("q_cnt").cast("bigint").alias("_nq"),
    )
    ph = (F.col("p_cnt") + 1).cast("double") / (
        F.col("_np") + 10
    ).cast("double")
    qh = (F.col("q_cnt") + 1).cast("double") / (
        F.col("_nq") + 10
    ).cast("double")
    ratio = (
        (F.col("p_cnt") + 1) * (F.col("_nq") + 10)
    ).cast("double") / (
        (F.col("q_cnt") + 1) * (F.col("_np") + 10)
    ).cast("double")
    return (
        counts.join(F.broadcast(tots), on="event_type")
        .select(
            "event_type",
            "bin",
            "p_cnt",
            "q_cnt",
            ((ph - qh) * F.log(ratio)).alias("psi_term"),
        )
    )


register("psi_drift", q_psi_drift, """
        WITH d AS MATERIALIZED (
          SELECT event_type, epoch_us(ts) AS us,
                 CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        ), rng AS (
          SELECT event_type, min(us) AS lo, max(us) AS hi,
                 min(c) AS cmin, max(c) AS cmax
          FROM d GROUP BY 1
        ), counts AS (
          SELECT d.event_type,
                 ((d.c - rng.cmin) * 10) // (rng.cmax - rng.cmin + 1)
                   AS bin,
                 CAST(sum(CASE WHEN (d.us - rng.lo) * 2
                                    < rng.hi - rng.lo + 1
                               THEN 1 ELSE 0 END) AS BIGINT) AS p_cnt,
                 CAST(sum(CASE WHEN (d.us - rng.lo) * 2
                                    < rng.hi - rng.lo + 1
                               THEN 0 ELSE 1 END) AS BIGINT) AS q_cnt
          FROM d JOIN rng USING (event_type)
          GROUP BY 1, 2
        ), tots AS (
          SELECT event_type,
                 CAST(sum(p_cnt) AS BIGINT) AS np,
                 CAST(sum(q_cnt) AS BIGINT) AS nq
          FROM counts GROUP BY 1
        )
        SELECT counts.event_type, CAST(counts.bin AS BIGINT) AS bin,
               counts.p_cnt, counts.q_cnt,
               (CAST(counts.p_cnt + 1 AS DOUBLE)
                  / CAST(tots.np + 10 AS DOUBLE)
                - CAST(counts.q_cnt + 1 AS DOUBLE)
                  / CAST(tots.nq + 10 AS DOUBLE))
               * ln(CAST((counts.p_cnt + 1) * (tots.nq + 10) AS DOUBLE)
                    / CAST((counts.q_cnt + 1) * (tots.np + 10) AS DOUBLE))
                 AS psi_term
        FROM counts JOIN tots USING (event_type)
    """)


def q_hodges_lehmann_binned(spark, sf_dir):
    """Binned Hodges-Lehmann location estimate per event type (the
    pseudo-median — median of Walsh pair averages, Hodges &
    Lehmann 1963; the binned-statistic discipline of
    kendall_tau_binned/kruskal_binned): cents bin to a fixed
    512-cell grid per type, Walsh pairs (i ≤ j) enumerate over
    the BOUNDED 512×512 bin-combo frame with exact integer
    weights n_i·n_j (i<j) and n_i·(n_i+1)/2 (i=j), and the
    estimate is the weighted lower-median pair BIN-SUM via a
    cumulative window — never an O(n²) row explosion.  All
    integers end to end.  Returns (event_type, n, p_pairs,
    hl_binsum)."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    d = e.select("event_type", cents.alias("_c"))
    rng = d.groupBy("event_type").agg(
        F.min("_c").alias("_cmin"),
        F.max("_c").alias("_cmax"),
        F.count("*").cast("bigint").alias("n"),
    )
    hist = (
        d.join(F.broadcast(rng), on="event_type")
        .select(
            "event_type",
            "n",
            F.expr(
                "((_c - _cmin) * 512) div (_cmax - _cmin + 1)"
            ).alias("_b"),
        )
        .groupBy("event_type", "n", "_b")
        .agg(F.count("*").cast("bigint").alias("_nb"))
        .localCheckpoint(eager=False)  # self-joined pair combos
    )
    h2 = hist.select(
        "event_type",
        F.col("_b").alias("_b2"),
        F.col("_nb").alias("_nb2"),
    )
    combos = (
        hist.join(h2, on="event_type")
        .filter(F.col("_b") <= F.col("_b2"))
        .select(
            "event_type",
            "n",
            (F.col("_b") + F.col("_b2")).alias("binsum"),
            F.when(
                F.col("_b") == F.col("_b2"),
                F.expr("(_nb * (_nb + 1)) div 2"),
            )
            .otherwise(F.col("_nb") * F.col("_nb2"))
            .cast("bigint")
            .alias("_w"),
        )
        .groupBy("event_type", "n", "binsum")
        .agg(F.sum("_w").cast("bigint").alias("_wb"))
    )
    wcum = W.partitionBy("event_type").orderBy("binsum").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    tot = combos.groupBy("event_type").agg(
        F.sum("_wb").cast("bigint").alias("_P")
    )
    ranked = (
        combos.join(F.broadcast(tot), on="event_type")
        .withColumn("_cum", F.sum("_wb").over(wcum).cast("bigint"))
        .filter(
            F.col("_cum") >= F.expr("(_P + 1) div 2")
        )
    )
    wpick = W.partitionBy("event_type").orderBy("binsum")
    return (
        ranked.withColumn("_r", F.row_number().over(wpick))
        .filter(F.col("_r") == 1)
        .select(
            "event_type",
            "n",
            F.col("_P").alias("p_pairs"),
            F.col("binsum").alias("hl_binsum"),
        )
    )


register("hodges_lehmann_binned", q_hodges_lehmann_binned, """
        WITH d AS MATERIALIZED (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE value IS NOT NULL
        ), rng AS (
          SELECT event_type, min(c) AS cmin, max(c) AS cmax,
                 CAST(count(*) AS BIGINT) AS n
          FROM d GROUP BY 1
        ), hist AS MATERIALIZED (
          SELECT d.event_type, rng.n,
                 ((d.c - rng.cmin) * 512) // (rng.cmax - rng.cmin + 1)
                   AS b,
                 CAST(count(*) AS BIGINT) AS nb
          FROM d JOIN rng USING (event_type)
          GROUP BY 1, 2, 3
        ), combos AS (
          SELECT h1.event_type, h1.n, h1.b + h2.b AS binsum,
                 CAST(sum(CASE WHEN h1.b = h2.b
                               THEN (h1.nb * (h1.nb + 1)) // 2
                               ELSE h1.nb * h2.nb END) AS BIGINT) AS wb
          FROM hist h1
          JOIN hist h2 ON h1.event_type = h2.event_type
                      AND h1.b <= h2.b
          GROUP BY 1, 2, 3
        ), ranked AS (
          SELECT event_type, n, binsum, wb,
                 CAST(sum(wb) OVER (
                   PARTITION BY event_type ORDER BY binsum
                   ROWS UNBOUNDED PRECEDING
                 ) AS BIGINT) AS cum,
                 CAST(sum(wb) OVER (PARTITION BY event_type) AS BIGINT)
                   AS P
          FROM combos
        )
        SELECT event_type, n, P AS p_pairs,
               CAST(min(binsum) AS BIGINT) AS hl_binsum
        FROM ranked
        WHERE cum >= (P + 1) // 2
        GROUP BY event_type, n, P
    """)

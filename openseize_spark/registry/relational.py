"""Relational queries: TPC-H shapes, event analytics (windows, rollups,
sessions, funnels) and storage-format round trips.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window as W

from openseize_spark.functions.scalar import hilbert_ctes_sql, zorder_key_sql
from openseize_spark.llm import text as llm_text
from openseize_spark.operators import relational as rel

from openseize_spark.registry import register
from openseize_spark.registry.common import _events, _gate_tmp, _t


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


register("pricing_summary", q_pricing_summary, """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                   CAST(sum(l_extendedprice) AS DOUBLE) AS sum_base_price,
                   CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS sum_disc_price,
                   avg(l_quantity) AS avg_qty,
                   avg(l_extendedprice) AS avg_price,
                   avg(l_discount) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """)


def q_revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


register("revenue_by_nation", q_revenue_by_nation, """
            SELECT n_name,
                   CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY n_name
        """)


def q_top_customers_by_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    w = W.orderBy(F.desc("n_orders"), F.col("o_custkey"))
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 10)
    )


register("top_customers_by_orders", q_top_customers_by_orders, """
            WITH agg AS (
              SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
            )
            SELECT o_custkey, n_orders,
                   CAST(row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS BIGINT) AS rnk
            FROM agg
            QUALIFY rnk <= 10
        """)


def q_priority_exists(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


register("priority_exists", q_priority_exists, """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45
            )
            GROUP BY o_orderpriority
        """)


def q_filtered_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


register("filtered_revenue", q_filtered_revenue, """
            SELECT CAST(sum(l_extendedprice * l_discount) AS DOUBLE) AS revenue
            FROM lineitem
            WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
        """)


def q_running_total(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # round(4): windowed cumsum associates differently across engines
    # (sequential vs segment-tree) — ~1e-9 absolute drift on long
    # prefixes; 4 decimals on money values is engine-invariant
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
    )


register("running_total", q_running_total, """
            SELECT o_custkey, o_orderkey,
                   round(CAST(sum(o_totalprice) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ) AS DOUBLE), 4) AS running_total
            FROM orders
        """)


def q_rank_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.col("p_partkey"))
    return (
        p.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
    )


register("rank_parts", q_rank_parts, """
            SELECT p_brand, p_partkey, p_retailprice,
                   CAST(row_number() OVER (
                     PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
                   ) AS BIGINT) AS rnk
            FROM part
            QUALIFY rnk <= 3
        """)


def q_event_deltas(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


register("event_deltas", q_event_deltas, """
            SELECT event_id, user_id,
                   value - lag(value) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                   ) AS delta
            FROM events
        """)


def q_sessionize(spark, sf_dir):
    e = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    flagged = e.select(
        "user_id", F.when(gap > 1800.0, 1).otherwise(0).alias("new_sess")
    )
    return flagged.groupBy("user_id").agg(
        (F.sum("new_sess") + 1).cast("bigint").alias("n_sessions")
    )


register("sessionize", q_sessionize, """
            WITH flagged AS (
              SELECT user_id,
                     CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) > 1800.0 THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
            SELECT user_id, CAST(sum(new_sess) + 1 AS BIGINT) AS n_sessions
            FROM flagged GROUP BY user_id
        """)


def q_tumbling_hour(spark, sf_dir):
    e = _events(spark, sf_dir)
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )


register("tumbling_hour", q_tumbling_hour, """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n,
                   CAST(sum(value) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2
        """)


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix over the events stream: users grouped
    by first-seen day, distinct-active-user counts per day offset.
    Two short-key shuffles (per-user min, then per-(cohort, offset)
    distinct count) — the canonical product-analytics rollup."""
    e = _events(spark, sf_dir)
    day = F.to_date("ts")
    first = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    act = e.select("user_id", day.alias("day")).distinct()
    return (
        act.join(first, on="user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


register("cohort_retention", q_cohort_retention, """
        WITH first AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
          FROM events GROUP BY user_id
        ), act AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        )
        SELECT cohort_day,
               CAST(day - cohort_day AS BIGINT) AS day_offset,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM act JOIN first USING (user_id)
        GROUP BY cohort_day, day_offset
    """)


def q_funnel_steps(spark, sf_dir):
    """Ordered funnel conversion (view -> click after the first view
    -> purchase after that click): per-step user counts.  Each step
    is a conditional min-timestamp aggregate joined on the user key;
    the one-row step counts combine via broadcast cross joins."""
    e = _events(spark, sf_dir)
    # v and c each feed TWO consumers (the next funnel stage and
    # their step count), so without checkpoints the events scan +
    # per-step aggregation chain re-executed per consumer — 6
    # events scans in the plan (lazy, GC-released,
    # per-user aggregates far smaller than the events table)
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
        .localCheckpoint(eager=False)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, on="user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
        .localCheckpoint(eager=False)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, on="user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    n1 = v.agg(F.count("*").cast("bigint").alias("n_viewed"))
    n2 = c.agg(F.count("*").cast("bigint").alias("n_clicked"))
    n3 = p.agg(F.count("*").cast("bigint").alias("n_purchased"))
    return n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))


register("funnel_steps", q_funnel_steps, """
        WITH v AS (
          SELECT user_id, min(ts) AS v_ts FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
          SELECT e.user_id, min(e.ts) AS c_ts
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.v_ts
          GROUP BY e.user_id
        ), p AS (
          SELECT e.user_id, min(e.ts) AS p_ts
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
          GROUP BY e.user_id
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed,
               (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked,
               (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchased
    """)


def q_json_props(spark, sf_dir):
    """Semi-structured extraction (engine-native): pull the integer
    k out of the JSON props column with a codegen JSON path (no
    UDF), aggregate per event_type — min/max/sum are integer-exact.
    At scale the JSON parse is the scan-side projection; nothing
    shuffles but the 5-row aggregate."""
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.select("event_type", k.alias("_k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("_k").alias("min_k"),
        F.max("_k").alias("max_k"),
        F.sum("_k").cast("bigint").alias("sum_k"),
    )


register("json_props", q_json_props, """
        SELECT event_type, count(*) AS n,
               min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k
        FROM events
        GROUP BY event_type
    """)


def q_skew_distinct_users(spark, sf_dir):
    """Skew-safe distinct count: event_type has only 5 values, so a
    direct countDistinct funnels each hot key through one reducer at
    scale.  The two-level form spreads stage 1 across the compound
    (event_type, user_id) key — hot keys shatter over all partitions,
    dedup happens there, and stage 2 counts the already-small
    distinct pairs.  Same result, skew-proof shuffle profile; also
    per-type value sums riding stage 1's partial aggregation.
    NULL users are excluded up front on both sides — groupBy would
    keep a NULL group that count(DISTINCT) excludes."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    pairs = e.groupBy("event_type", "user_id").agg(
        F.count("*").alias("_n"), F.sum("value").alias("_sv")
    )
    return pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("distinct_users"),
        F.sum("_n").cast("bigint").alias("n_events"),
        F.round(F.sum("_sv"), 6).alias("sum_value"),
    )


register("skew_distinct_users", q_skew_distinct_users, """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 6) AS sum_value
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY event_type
    """)


def q_daily_gapfill(spark, sf_dir):
    """Time-series densification: daily event counts per type with
    zero rows for missing (type, day) combinations — the gap-fill
    every dashboard and forecasting pipeline needs before windowed
    models.  The date spine generates from a one-row min/max
    aggregate (broadcast), crosses with the distinct type list
    (broadcast — bounded by the type vocabulary), and left-joins the
    pre-aggregated daily counts; raw events are touched exactly
    once — the span and the type list both derive from the
    CHECKPOINTED daily aggregate (they are its min/max and key
    projection), not from separate raw scans."""
    e = _events(spark, sf_dir)
    daily = e.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("_n")).localCheckpoint(eager=False)
    span = daily.agg(
        F.min("day").alias("_lo"),
        F.max("day").alias("_hi"),
    )
    spine = span.select(
        F.explode(F.sequence("_lo", "_hi")).alias("day")
    )
    types = daily.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    return grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n"),
    )


register("daily_gapfill", q_daily_gapfill, """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY 1, 2
        ), span AS (
          SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
          FROM events
        ), spine AS (
          SELECT CAST(u.d AS DATE) AS day
          FROM span, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS u(d)
        ), types AS (SELECT DISTINCT event_type FROM events)
        SELECT t.event_type, s.day,
               CAST(coalesce(daily.n, 0) AS BIGINT) AS n
        FROM spine s CROSS JOIN types t
        LEFT JOIN daily
          ON daily.event_type = t.event_type AND daily.day = s.day
    """)


def q_cumulative_users(spark, sf_dir):
    """Cumulative distinct users by day (the growth curve): each
    user counts once, on their first-seen day; the running total
    accumulates over the tiny per-day aggregate.  The cumulative
    sum is a broadcast inequality self-join over the bounded
    day-count relation — NOT a SinglePartition window, so no global
    funnel exists anywhere in the plan even though the semantics
    are a running total."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    first = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    # both self-join sides consume the tiny day relation; without the
    # checkpoint each rebuilds the events scan + first-seen aggregate
    per_day = (
        first.groupBy("day")
        .agg(F.count("*").alias("new_users"))
        .localCheckpoint(eager=False)
    )
    rhs = per_day.select(
        F.col("day").alias("_d2"), F.col("new_users").alias("_n2")
    )
    return (
        per_day.join(F.broadcast(rhs), F.col("_d2") <= F.col("day"))
        .groupBy("day", "new_users")
        .agg(F.sum("_n2").cast("bigint").alias("total_users"))
        .select(
            "day",
            F.col("new_users").cast("bigint").alias("new_users"),
            "total_users",
        )
    )


register("cumulative_users", q_cumulative_users, """
        WITH first AS (
          SELECT user_id, min(CAST(ts AS DATE)) AS day
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ), per_day AS (
          SELECT day, count(*) AS new_users FROM first GROUP BY day
        )
        SELECT a.day,
               CAST(a.new_users AS BIGINT) AS new_users,
               CAST(sum(b.new_users) AS BIGINT) AS total_users
        FROM per_day a JOIN per_day b ON b.day <= a.day
        GROUP BY a.day, a.new_users
    """)


def q_cube_revenue(spark, sf_dir):
    """CUBE aggregation with grouping ids: all four (returnflag,
    linestatus) grouping combinations in one pass — Spark expands
    the cube map-side and aggregates once, no four separate scans.
    Revenue in exact integer 1e-4 units (cf. bucketed_revenue) so
    every grouping level hashes identically."""
    li = _t(spark, sf_dir, "lineitem")
    units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").cast("bigint").alias("n"),
            (F.sum(units) / 10000.0).alias("revenue"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "gid",
            "n",
            "revenue",
        )
    )


register("cube_revenue", q_cube_revenue, """
        SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
               coalesce(l_linestatus, 'ALL') AS l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                    AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(
                 l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                 AS BIGINT) / 10000.0 AS revenue
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """)


def q_locf_fill(spark, sf_dir):
    """LOCF forward fill (last observation carried forward): each
    event carries the user's most recent purchase value — the
    classic sparse-to-dense time-series alignment (sensor readings,
    price marks).  One window per user ordered by event time,
    ``last(..., ignorenulls)`` over the unbounded-preceding frame;
    pure value passthrough, no arithmetic to diverge."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


register("locf_fill", q_locf_fill, """
        SELECT event_id, user_id, event_type,
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS last_purchase_value
        FROM events
        WHERE user_id IS NOT NULL
    """)


def q_cdc_apply(spark, sf_dir):
    """CDC apply / MERGE-shape upsert: a deterministic change set
    (updates for doc_id%7==0, deletes for %13==0, inserts above the
    id space) applied to the documents snapshot in ONE full-outer
    join — the batch equivalent of MERGE INTO, and the complement
    of snapshot_diff (which classifies; this materializes the next
    snapshot).  At scale the join shuffles both sides once on the
    key; no per-row driver logic."""
    docs = _t(spark, sf_dir, "documents")
    upd = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            F.concat(F.lit("updated "), F.col("text")).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + 8).alias("n_chars"),
            F.lit("U").alias("op"),
        )
    )
    dele = docs.filter(
        (F.col("doc_id") % 13 == 0) & (F.col("doc_id") % 7 != 0)
    ).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("bigint").alias("n_chars"),
        F.lit("D").alias("op"),
    )
    ins = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 4).alias("n_chars"),
        F.lit("I").alias("op"),
    )
    changes = (
        upd.unionByName(dele)
        .unionByName(ins)
        .select(
            F.col("doc_id").alias("c_id"),
            F.col("text").alias("c_text"),
            F.col("lang").alias("c_lang"),
            F.col("source").alias("c_source"),
            F.col("n_chars").alias("c_nchars"),
            "op",
        )
    )
    base = docs.select(
        F.col("doc_id").alias("b_id"), "text", "lang", "source", "n_chars"
    )
    j = base.join(changes, base.b_id == changes.c_id, "full_outer")
    return (
        j.filter(F.coalesce(F.col("op") != "D", F.lit(True)))
        .select(
            F.coalesce("c_id", "b_id").alias("doc_id"),
            F.coalesce("c_text", "text").alias("text"),
            F.coalesce("c_lang", "lang").alias("lang"),
            F.coalesce("c_source", "source").alias("source"),
            F.coalesce("c_nchars", "n_chars").alias("n_chars"),
        )
    )


register("cdc_apply", q_cdc_apply, """
        WITH changes AS (
          SELECT doc_id AS c_id, 'updated ' || text AS c_text,
                 lang AS c_lang, source AS c_source,
                 n_chars + 8 AS c_nchars, 'U' AS op
          FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id, NULL, NULL, NULL, NULL, 'D'
          FROM documents WHERE doc_id % 13 = 0 AND doc_id % 7 <> 0
          UNION ALL
          SELECT doc_id + 1000000, 'new ' || text, lang, source,
                 n_chars + 4, 'I'
          FROM documents WHERE doc_id % 11 = 0
        )
        SELECT coalesce(c.c_id, b.doc_id) AS doc_id,
               coalesce(c.c_text, b.text) AS text,
               coalesce(c.c_lang, b.lang) AS lang,
               coalesce(c.c_source, b.source) AS source,
               CAST(coalesce(c.c_nchars, b.n_chars) AS BIGINT) AS n_chars
        FROM documents b FULL OUTER JOIN changes c ON b.doc_id = c.c_id
        WHERE coalesce(c.op <> 'D', TRUE)
    """)


def q_scd2_ranges(spark, sf_dir):
    """SCD Type-2 validity ranges: each user's purchase events become
    dimension versions valid [ts, next purchase ts) — the slowly-
    changing-dimension build every warehouse runs, as one lead()
    window per user.  Exact integer microsecond bounds; the open
    current version carries NULL valid_to."""
    e = _events(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.col("value").alias("version_value"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
    )


register("scd2_ranges", q_scd2_ranges, """
        SELECT user_id, event_id,
               value AS version_value,
               epoch_us(ts) AS valid_from_us,
               epoch_us(lead(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               )) AS valid_to_us
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    """)


def q_null_profile(spark, sf_dir):
    """Column null-profile of the events stream: per-column null
    counts and fractions from ONE conditional-aggregation scan,
    unpivoted to a row per column — the profiling complement to
    dq_audit's pass/fail constraints."""
    e = _events(spark, sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    agg = e.agg(
        F.count("*").alias("_total"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"_n_{c}"
            )
            for c in cols
        ],
    )
    stack = ", ".join(f"'{c}', _n_{c}" for c in cols)
    return agg.selectExpr(
        "_total", f"stack({len(cols)}, {stack}) AS (column_name, n_null)"
    ).select(
        "column_name",
        F.col("n_null").cast("bigint").alias("n_null"),
        F.col("_total").cast("bigint").alias("n_total"),
        F.round(
            F.col("n_null").cast("double") / F.col("_total").cast("double"),
            9,
        ).alias("null_frac"),
    )


register("null_profile", q_null_profile, """
        WITH agg AS (
          SELECT count(*) AS total,
                 sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS n_event_id,
                 sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS n_ts,
                 sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS n_user_id,
                 sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS n_event_type,
                 sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n_value,
                 sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS n_props
          FROM events
        )
        SELECT u.column_name,
               CAST(u.n_null AS BIGINT) AS n_null,
               CAST(total AS BIGINT) AS n_total,
               round(CAST(u.n_null AS DOUBLE) / CAST(total AS DOUBLE), 9)
                 AS null_frac
        FROM agg, (
          SELECT 'event_id' AS column_name, n_event_id AS n_null FROM agg
          UNION ALL SELECT 'ts', n_ts FROM agg
          UNION ALL SELECT 'user_id', n_user_id FROM agg
          UNION ALL SELECT 'event_type', n_event_type FROM agg
          UNION ALL SELECT 'value', n_value FROM agg
          UNION ALL SELECT 'props', n_props FROM agg
        ) u
    """)


def q_event_debounce(spark, sf_dir):
    """Debounce repeated events: drop any event within 60 s of the
    user's previous SAME-TYPE event — the sensor/click-stream
    cleaning step before counting anything.  One lag() window per
    (user, type); the kept-row predicate compares exact integer
    microseconds."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    return (
        e.withColumn("_gap", gap)
        .filter(F.col("_gap").isNull() | (F.col("_gap") >= 60_000_000))
        .groupBy("user_id", "event_type")
        .agg(F.count("*").cast("bigint").alias("n_kept"))
    )


register("event_debounce", q_event_debounce, """
        WITH g AS (
          SELECT user_id, event_type,
                 epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id)) AS gap
          FROM events WHERE user_id IS NOT NULL
        )
        SELECT user_id, event_type,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM g
        WHERE gap IS NULL OR gap >= 60000000
        GROUP BY user_id, event_type
    """)


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition counts: per user, consecutive
    event-type pairs (prev -> next) aggregated corpus-wide, with the
    row-normalized transition probability — the product-analytics
    "what do users do next" matrix.  lag() per user plus one
    short-key aggregation; probabilities divide exact integer
    counts.  The |types|^2 counts table checkpoints once — the
    row-total branch would otherwise rebuild the whole
    scan -> user-shuffle -> window-sort subtree."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNotNull())
        .groupBy(
            F.col("_prev").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("_n"))
        .localCheckpoint(eager=False)
    )
    tot = pairs.groupBy("from_type").agg(F.sum("_n").alias("_row_n"))
    return pairs.join(F.broadcast(tot), on="from_type").select(
        "from_type",
        "to_type",
        F.col("_n").cast("bigint").alias("n"),
        F.round(
            F.col("_n").cast("double") / F.col("_row_n").cast("double"), 9
        ).alias("p"),
    )


register("event_transitions", q_event_transitions, """
        WITH p AS (
          SELECT lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS from_type,
                 event_type AS to_type
          FROM events WHERE user_id IS NOT NULL
        ), pairs AS (
          SELECT from_type, to_type, count(*) AS n
          FROM p WHERE from_type IS NOT NULL
          GROUP BY from_type, to_type
        ), tot AS (
          SELECT from_type, sum(n) AS row_n FROM pairs GROUP BY from_type
        )
        SELECT pairs.from_type, pairs.to_type,
               CAST(pairs.n AS BIGINT) AS n,
               round(CAST(pairs.n AS DOUBLE) / CAST(tot.row_n AS DOUBLE), 9)
                 AS p
        FROM pairs JOIN tot ON pairs.from_type = tot.from_type
    """)


def q_churned_users(spark, sf_dir):
    """Churn snapshot: users whose LAST event predates the corpus
    horizon by more than 12 hours — one per-user max aggregation
    against a broadcast one-row corpus max, all comparisons in
    exact integer microseconds.  The horizon is the max of the
    per-user maxima, so it derives from the checkpointed per-user
    table instead of a second full events scan."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    last = e.groupBy("user_id").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count("*").alias("n_events"),
    ).localCheckpoint(eager=False)
    horizon = last.agg(F.max("last_us").alias("max_us"))
    week_us = 12 * 3600 * 1_000_000
    return (
        last.join(F.broadcast(horizon))
        .filter(F.col("last_us") < F.col("max_us") - F.lit(week_us))
        .select(
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
            "last_us",
        )
    )


register("churned_users", q_churned_users, """
        WITH last AS (
          SELECT user_id, max(epoch_us(ts)) AS last_us,
                 count(*) AS n_events
          FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ), h AS (SELECT max(epoch_us(ts)) AS max_us FROM events
                 WHERE user_id IS NOT NULL)
        SELECT user_id,
               CAST(n_events AS BIGINT) AS n_events,
               last_us
        FROM last CROSS JOIN h
        WHERE last_us < max_us - 43200000000
    """)


def q_engaged_users(spark, sf_dir):
    """Engagement cohorts: users bucketed by how many distinct days
    they were active — distinct (user, day) pairs collapse first
    (map-side on the compound key), then one tiny per-user count
    and a bucketed rollup.  All-integer."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    days = e.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    per_user = days.groupBy("user_id").agg(
        F.count("*").alias("active_days")
    )
    bucket = (
        F.when(F.col("active_days") >= 25, "daily")
        .when(F.col("active_days") >= 10, "regular")
        .when(F.col("active_days") >= 3, "occasional")
        .otherwise("rare")
    )
    return per_user.groupBy(bucket.alias("engagement")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("active_days").cast("bigint").alias("total_active_days"),
    )


register("engaged_users", q_engaged_users, """
        WITH days AS (
          SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
          FROM events WHERE user_id IS NOT NULL
        ), per_user AS (
          SELECT user_id, count(*) AS active_days FROM days GROUP BY user_id
        )
        SELECT CASE WHEN active_days >= 25 THEN 'daily'
                    WHEN active_days >= 10 THEN 'regular'
                    WHEN active_days >= 3 THEN 'occasional'
                    ELSE 'rare' END AS engagement,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(active_days) AS BIGINT) AS total_active_days
        FROM per_user GROUP BY engagement
    """)


def q_wow_retention(spark, sf_dir):
    """Week-over-week retention: of the users active in week w, how
    many returned in week w+1 — distinct (user, week) pairs
    self-joined on the adjacent week.  The distinct collapse
    happens before the join, so the join touches user-week rows,
    not events — and it checkpoints once, since three branches
    (weekly actives, the shifted week, the semi-join probe) consume
    it and would each re-run the events scan + distinct otherwise.
    All-integer counts, one final ratio."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    uw = (
        e.select("user_id", F.weekofyear("ts").alias("week"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cur = uw.groupBy("week").agg(F.count("*").alias("n_active"))
    nxt = uw.select("user_id", (F.col("week") - 1).alias("week"))
    ret = (
        uw.join(nxt, on=["user_id", "week"], how="left_semi")
        .groupBy("week")
        .agg(F.count("*").alias("n_retained"))
    )
    return (
        cur.join(ret, on="week", how="left")
        .select(
            F.col("week").cast("bigint").alias("week"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.coalesce("n_retained", F.lit(0))
            .cast("bigint")
            .alias("n_retained"),
            F.round(
                F.coalesce("n_retained", F.lit(0)).cast("double")
                / F.col("n_active").cast("double"),
                9,
            ).alias("retention"),
        )
    )


register("wow_retention", q_wow_retention, """
        WITH uw AS (
          SELECT DISTINCT user_id, weekofyear(ts) AS week
          FROM events WHERE user_id IS NOT NULL
        ), cur AS (
          SELECT week, count(*) AS n_active FROM uw GROUP BY week
        ), ret AS (
          SELECT a.week, count(*) AS n_retained
          FROM uw a
          WHERE EXISTS (
            SELECT 1 FROM uw b
            WHERE b.user_id = a.user_id AND b.week = a.week + 1
          )
          GROUP BY a.week
        )
        SELECT CAST(cur.week AS BIGINT) AS week,
               CAST(cur.n_active AS BIGINT) AS n_active,
               CAST(coalesce(ret.n_retained, 0) AS BIGINT) AS n_retained,
               round(CAST(coalesce(ret.n_retained, 0) AS DOUBLE)
                     / CAST(cur.n_active AS DOUBLE), 9) AS retention
        FROM cur LEFT JOIN ret ON cur.week = ret.week
    """)


def q_sql_entry(spark, sf_dir):
    """Pure SQL API entry: the same engine through ``spark.sql`` over
    temp views — users who live in SQL get the identical Catalyst
    plans the DataFrame API produces (this query's shape matches
    revenue_by_nation's join tree).  Session-scoped view names keyed
    by sf_dir so concurrent gates don't collide."""
    import re

    tag = re.sub(r"\W", "_", sf_dir.rstrip("/").split("/")[-1])
    for t in ("lineitem", "orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}_{tag}")
    return spark.sql(
        f"""
            SELECT n.n_name,
                   CAST(sum(CAST(round(
                     l.l_extendedprice * (1 - l.l_discount) * 10000
                   ) AS BIGINT)) AS BIGINT)
                     / CAST(10000.0 AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM v_lineitem_{tag} l
            JOIN v_orders_{tag} o ON l.l_orderkey = o.o_orderkey
            JOIN v_customer_{tag} c ON o.o_custkey = c.c_custkey
            JOIN v_nation_{tag} n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
            """
    )


register("sql_entry", q_sql_entry, """
        SELECT n_name,
               CAST(sum(CAST(round(
                 l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                 AS BIGINT) / 10000.0 AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """)


def q_top_values_csv(spark, sf_dir):
    """Deterministic nested aggregation: each user's top-3 event
    values collected, sorted, and serialized to a CSV string —
    collect_list alone is partition-order dependent, so the
    array_sort makes the nested result layout-invariant (the same
    discipline nested_roundtrip uses).  Values in integer cents so
    the sort key is exact."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    return e.groupBy("user_id").agg(
        F.concat_ws(
            ",",
            F.slice(
                F.reverse(F.array_sort(F.collect_list(cents))), 1, 3
            ),
        ).alias("top3_cents"),
        F.count("*").cast("bigint").alias("n_events"),
    )


register("top_values_csv", q_top_values_csv, """
        SELECT user_id,
               array_to_string(
                 list_slice(
                   list_sort(list(CAST(round(value * 100) AS BIGINT)),
                             'DESC'), 1, 3), ',') AS top3_cents,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY user_id
    """)

_zexpr = zorder_key_sql("user_id", "CAST(day(ts) AS BIGINT)", bits=10)


def q_zorder_layout(spark, sf_dir):
    """Z-order layout keys (functions/scalar.py zorder_key): Morton-
    interleave (user_id, day-of-month) into one clustering key and
    report per-z-bucket extents — the multi-dimensional data-skipping
    layout (sorting by this key lets per-file min/max stats prune on
    EITHER predicate; the bucket extents below are exactly those
    stats).  Pure integer shift/mask codegen, one short-key shuffle."""
    from openseize_spark.functions.scalar import zorder_key

    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    day = F.dayofmonth("ts").cast("long")
    z = zorder_key(F.col("user_id"), day, bits=10)
    return (
        e.withColumn("_z", z)
        .groupBy(F.shiftright("_z", 8).alias("z_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("user_id").cast("bigint").alias("min_user"),
            F.max("user_id").cast("bigint").alias("max_user"),
            F.min(day).cast("bigint").alias("min_day"),
            F.max(day).cast("bigint").alias("max_day"),
        )
    )


register("zorder_layout", q_zorder_layout, lambda: f"""
        SELECT ({_zexpr}) >> 8 AS z_bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(user_id) AS BIGINT) AS min_user,
               CAST(max(user_id) AS BIGINT) AS max_user,
               CAST(min(day(ts)) AS BIGINT) AS min_day,
               CAST(max(day(ts)) AS BIGINT) AS max_day
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY z_bucket
    """)


def q_dq_audit(spark, sf_dir):
    """Data-quality audit (the Deequ/dbt-tests stage every ingest
    pipeline runs before publishing): per-constraint violation
    counts over orders/lineitem/customer/events — null checks,
    key uniqueness, referential integrity, value ranges, and an
    accepted-values set.  Each table is scanned once (conditional
    aggregation); the FK check is a broadcast-able anti join
    projected to the key column.  One tiny row per check."""
    o_t = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    e = _events(spark, sf_dir)

    def one(name, df):
        return df.select(
            F.lit(name).alias("check"),
            F.col("v").cast("bigint").alias("violations"),
        )

    checks = [
        one(
            "orders.custkey_not_null",
            o_t.agg(
                F.sum(
                    F.when(F.col("o_custkey").isNull(), 1).otherwise(0)
                ).alias("v")
            ),
        ),
        one(
            "orders.orderkey_unique",
            o_t.groupBy("o_orderkey")
            .agg(F.count("*").alias("_n"))
            .agg(
                F.sum(F.when(F.col("_n") > 1, F.col("_n") - 1).otherwise(0)).alias(
                    "v"
                )
            ),
        ),
        one(
            "orders.custkey_fk_customer",
            # null custkeys are the not_null check's finding, not a
            # broken reference — and NOT IN's 3-valued logic would
            # drop them on the SQL side, so exclude them here too
            o_t.select("o_custkey")
            .filter(F.col("o_custkey").isNotNull())
            .join(
                c.select(F.col("c_custkey").alias("o_custkey")),
                on="o_custkey",
                how="left_anti",
            )
            .agg(F.count("*").alias("v")),
        ),
        one(
            "lineitem.discount_in_range",
            li.agg(
                F.sum(
                    F.when(
                        (F.col("l_discount") < 0.0)
                        | (F.col("l_discount") > 0.1),
                        1,
                    ).otherwise(0)
                ).alias("v")
            ),
        ),
        one(
            "lineitem.quantity_positive",
            li.agg(
                F.sum(
                    F.when(F.col("l_quantity") <= 0, 1).otherwise(0)
                ).alias("v")
            ),
        ),
        one(
            "events.type_accepted_values",
            e.agg(
                F.sum(
                    F.when(
                        ~F.col("event_type").isin(
                            "view", "click", "purchase", "signup", "error"
                        ),
                        1,
                    ).otherwise(0)
                ).alias("v")
            ),
        ),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out


register("dq_audit", q_dq_audit, """
        SELECT 'orders.custkey_not_null' AS check,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS violations
        FROM orders
        UNION ALL
        SELECT 'orders.orderkey_unique',
               CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0)
                    AS BIGINT)
        FROM (SELECT o_orderkey, count(*) AS n FROM orders GROUP BY 1)
        UNION ALL
        SELECT 'orders.custkey_fk_customer',
               CAST(count(*) AS BIGINT)
        FROM orders WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
          (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
        UNION ALL
        SELECT 'lineitem.discount_in_range',
               CAST(sum(CASE WHEN l_discount < CAST(0.0 AS DOUBLE)
                               OR l_discount > CAST(0.1 AS DOUBLE)
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.quantity_positive',
               CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'events.type_accepted_values',
               CAST(sum(CASE WHEN event_type NOT IN
                   ('view', 'click', 'purchase', 'signup', 'error')
                 THEN 1 ELSE 0 END) AS BIGINT)
        FROM events
    """)


def q_schema_evolution(spark, sf_dir):
    """Schema-evolution read: two parquet generations of the
    documents table — the second adds a column — unified by
    ``mergeSchema`` so the missing column back-fills NULL for old
    files.  This is the append-only table lifecycle every long-
    lived 100 TB dataset goes through; reading with an explicit
    merged schema costs one footer pass, no data rewrite."""
    import os

    import re

    docs = _t(spark, sf_dir, "documents")
    tag = re.sub(r"\W", "_", sf_dir.rstrip("/").split("/")[-1])
    d = _gate_tmp(spark, f"schema_ev_{tag}")
    p1, p2 = os.path.join(d, "gen1"), os.path.join(d, "gen2")
    if not (
        os.path.exists(os.path.join(p1, "_SUCCESS"))
        and os.path.exists(os.path.join(p2, "_SUCCESS"))
    ):
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", "source"
        ).write.mode("overwrite").parquet(p1)
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "source", "n_chars"
        ).write.mode("overwrite").parquet(p2)
    return spark.read.option("mergeSchema", "true").parquet(p1, p2).select(
        "doc_id", "lang", "source", "n_chars"
    )


register("schema_evolution", q_schema_evolution, """
        SELECT doc_id, lang, source,
               CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        FROM documents
    """)


def q_partition_pruning(spark, sf_dir):
    """Hive-partitioned write + partition-pruned read: events land
    partitioned by day (the universal time-partitioned fact
    layout); a one-week filter then touches only those directories
    — at 100 TB the scan reads 7/30ths of the files before a
    single row is decoded (the pytest asserts PartitionFilters in
    the scan; this gate asserts the result).  The partition column
    round-trips as a string directory key and is cast back for the
    rollup."""
    import os

    import re

    e = _events(spark, sf_dir)
    tag = re.sub(r"\W", "_", sf_dir.rstrip("/").split("/")[-1])
    d = _gate_tmp(spark, f"part_events_{tag}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        e.withColumn("day", F.to_date("ts")).write.mode(
            "overwrite"
        ).partitionBy("day").parquet(d)
    part = spark.read.parquet(d)
    return (
        part.filter(
            (F.col("day") >= F.lit("2024-01-08"))
            & (F.col("day") <= F.lit("2024-01-14"))
        )
        .groupBy(F.col("day").cast("date").alias("day"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


register("partition_pruning", q_partition_pruning, """
        SELECT CAST(ts AS DATE) AS day, event_type,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 6) AS sum_value
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
          AND CAST(ts AS DATE) <= DATE '2024-01-14'
        GROUP BY day, event_type
    """)


def q_nested_roundtrip(spark, sf_dir):
    """Nested-type round-trip: lineitems nest into a sorted
    array<struct> per order (the document-style layout written to
    serving stores), then explode back and aggregate — proving the
    nest/unnest path is lossless.  The nested build is one shuffle
    on the order key; sort_array makes the collected order
    deterministic (collect_list alone is partition-order
    dependent)."""
    li = _t(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "l_linenumber",
                    "l_quantity",
                    "l_extendedprice",
                    "l_returnflag",
                )
            )
        ).alias("items")
    )
    ex = nested.select(
        "l_orderkey", F.explode("items").alias("it")
    )
    return ex.groupBy("l_orderkey").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum("it.l_quantity").alias("sum_qty"),
        F.min("it.l_returnflag").alias("min_flag"),
        F.max("it.l_linenumber").cast("bigint").alias("max_line"),
    )


register("nested_roundtrip", q_nested_roundtrip, """
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
               min(l_returnflag) AS min_flag,
               CAST(max(l_linenumber) AS BIGINT) AS max_line
        FROM lineitem
        GROUP BY l_orderkey
    """)


def q_salted_enrich(spark, sf_dir):
    """Skew-resistant dimension join (operators/relational.py
    salted_join): events carry only 5 event_type values — the
    textbook hot-key regime where a plain shuffle join funnels each
    type through one reducer.  The salted join spreads every hot
    key over 16 sub-keys and replicates the 5-row dim once per
    salt; the daily weighted rollup then aggregates normally."""
    from openseize_spark.operators.relational import salted_join

    e = _events(spark, sf_dir).select("event_type", "ts", "value")
    dim = spark.createDataFrame(
        [
            ("view", 1), ("click", 3), ("purchase", 10),
            ("signup", 5), ("error", 0),
        ],
        "event_type string, weight int",
    )
    j = salted_join(e, dim, key="event_type", salt=16)
    return j.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        (F.count("*") * F.first("weight")).cast("bigint").alias("weighted"),
    )


register("salted_enrich", q_salted_enrich, """
        WITH dim(event_type, weight) AS (
          VALUES ('view', 1), ('click', 3), ('purchase', 10),
                 ('signup', 5), ('error', 0)
        )
        SELECT e.event_type, CAST(e.ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) * any_value(d.weight) AS BIGINT) AS weighted
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY e.event_type, day
    """)


def q_bucketed_revenue(spark, sf_dir):
    """Bucketed co-located join: lineitem and orders written once as
    bucketed tables (8 buckets on the join key, sorted within
    buckets) and then joined WITHOUT a shuffle — Spark's sort-merge
    join consumes the bucket layout directly.  This is the
    pre-shuffle-amortization strategy for the 100 TB fact-fact join
    a pipeline runs every day: pay the partitioning once at write
    time, never again at read time (tests assert the exchange-free
    plan; this gate asserts the result)."""
    import os
    import re

    d = _gate_tmp(spark, "buckets")
    # key the catalog names by sf_dir: one session may gate several
    # scale factors, and a session-global name would silently serve
    # the first sf's buckets to the second
    tag = re.sub(r"\W", "_", sf_dir.rstrip("/").split("/")[-1])
    li_t, ord_t = f"gate_li_bucketed_{tag}", f"gate_ord_bucketed_{tag}"
    if not spark.catalog.tableExists(li_t):
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
            "path", os.path.join(d, li_t)
        ).mode("overwrite").saveAsTable(li_t)
    if not spark.catalog.tableExists(ord_t):
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority"
        )
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
            "path", os.path.join(d, ord_t)
        ).mode("overwrite").saveAsTable(ord_t)
    li_b = spark.table(li_t)
    o_b = spark.table(ord_t)
    # exact integer 1e-4 revenue units (cf. top_revenue_supplier) so
    # the sum is order-invariant across bucket layouts and engines
    units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("month"),
            "o_orderpriority",
        )
        .agg(
            (F.sum(units) / 10000.0).alias("revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


register("bucketed_revenue", q_bucketed_revenue, """
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               o_orderpriority,
               CAST(sum(CAST(round(
                 l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                 AS BIGINT) / 10000.0 AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY month, o_orderpriority
    """)


def q_rollup_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_qty",
            "n",
        )
    )


register("rollup_revenue", q_rollup_revenue, """
            SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
                   coalesce(l_linestatus, 'ALL') AS l_linestatus,
                   CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """)


def q_pivot_status(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            F.col("O").alias("qty_o"),
            F.col("F").alias("qty_f"),
        )
    )


register("pivot_status", q_pivot_status, """
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS DOUBLE) AS qty_o,
                   CAST(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS DOUBLE) AS qty_f
            FROM lineitem GROUP BY l_returnflag
        """)


def q_set_ops(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 200000).select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    # `both` (a shuffle-produced intersect) feeds the exceptAll AND
    # the output union — checkpoint or the whole intersect re-runs
    # per consumer (lazy, GC-released, tiny)
    both = hi.intersect(urgent).localCheckpoint(eager=False)
    only_hi = hi.distinct().exceptAll(both)
    return both.withColumn("kind", F.lit("both")).unionByName(
        only_hi.withColumn("kind", F.lit("only_hi"))
    )


register("set_ops", q_set_ops, """
            WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000),
                 urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
                 both_k AS (SELECT DISTINCT o_custkey FROM hi INTERSECT SELECT o_custkey FROM urgent)
            SELECT o_custkey, 'both' AS kind FROM both_k
            UNION ALL
            SELECT o_custkey, 'only_hi' AS kind
            FROM (SELECT DISTINCT o_custkey FROM hi EXCEPT SELECT o_custkey FROM both_k)
        """)


def q_distinct_pairs(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


register("distinct_pairs", q_distinct_pairs, """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """)


def q_supplier_topbal(spark, sf_dir):
    # top-1-per-group via rank window + broadcast dim join, with
    # analytic aggregates computed in the same window pass
    from pyspark.sql import Window as W

    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    j = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    w = W.partitionBy("n_name")
    wo = W.partitionBy("n_name").orderBy(F.desc("s_acctbal"), F.col("s_suppkey"))
    return (
        j.withColumn("rn", F.row_number().over(wo))
        .withColumn("avg_bal", F.avg("s_acctbal").over(w))
        .withColumn("n_suppliers", F.count("*").over(w))
        .filter(F.col("rn") == 1)
        .select(
            "n_name",
            F.col("s_name").alias("top_supplier"),
            F.col("s_acctbal").alias("top_bal"),
            "avg_bal",
            "n_suppliers",
        )
    )


register("supplier_topbal", q_supplier_topbal, """
        SELECT n_name,
               s_name AS top_supplier,
               s_acctbal AS top_bal,
               avg(s_acctbal) OVER (PARTITION BY n_name) AS avg_bal,
               count(*) OVER (PARTITION BY n_name) AS n_suppliers
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        QUALIFY row_number() OVER (
          PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey) = 1
    """)


def q_big_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds a
    threshold, joined back to customer.  The HAVING-filtered
    aggregate is tiny relative to lineitem, so AQE turns the
    order-side join into a broadcast at any scale where the
    predicate is selective; quantity sums are exact integers in
    doubles (TPC-H quantities are 1..50), so the threshold cannot
    straddle a float boundary."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


register("big_orders", q_big_orders, """
        SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM orders
        JOIN (
          SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 150
        ) big ON o_orderkey = big.l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """)


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: share of revenue from one part type in a
    shipdate month-range — conditional aggregation over a part join,
    single-row result.  Part side joins on the part key; at 100 TB
    the dimension stays shuffle-joined unless AQE broadcasts it."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    # revenue in exact integer 1e-4 units (the _rev_units discipline):
    # the share is a ratio of two float sums otherwise, and float sum
    # order is not pinned — a 1-ulp reordering could flip the
    # round-at-9 (coherence failure class, tools/float_order_audit.py)
    ru = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    j = li.filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-03-01"))
    ).join(p, li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type") == "STANDARD", ru).otherwise(F.lit(0))
            ).cast("double")
            / F.sum(ru).cast("double"),
            9,
        ).alias("promo_share"),
        F.count("*").alias("n_items"),
    )


register("promo_revenue", q_promo_revenue, """
        WITH j AS (
          SELECT p_type,
                 CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT) AS ru
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-03-01 00:00:00'
        )
        SELECT round(
                 100.0 * CAST(sum(CASE WHEN p_type = 'STANDARD'
                                  THEN ru ELSE 0 END) AS DOUBLE)
                       / CAST(sum(ru) AS DOUBLE),
                 9) AS promo_share,
               count(*) AS n_items
        FROM j
    """)


def q_brand_suppliers(spark, sf_dir):
    """TPC-H Q16 shape: distinct-supplier breadth per part brand,
    excluding a blacklist via anti join.  The blacklist (negative
    account balance) is tiny -> broadcast anti join; countDistinct
    runs as Spark's two-phase expand aggregate.  All-integer output."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


register("brand_suppliers", q_brand_suppliers, """
        SELECT p_brand,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
        )
        GROUP BY p_brand
    """)


def q_priority_late_orders(spark, sf_dir):
    """TPC-H Q4 shape: orders with at least one late-shipped item
    (shipdate > orderdate + 60 days), counted per priority.  The
    correlated EXISTS becomes a LEFT SEMI join on the order key —
    Spark never materializes the duplicate-late-items side, and the
    semi join degenerates to a broadcast when the late set is small
    under AQE.  All-integer output."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    late = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
    return (
        o.join(
            late.select(F.col("l_orderkey").alias("k")).distinct(),
            o.o_orderkey == F.col("k"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


register("priority_late_orders", q_priority_late_orders, """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority
    """)


def q_sole_late_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper in
    a multi-supplier order (shipdate > orderdate + 90 days).  The
    exists/not-exists pair is re-expressed as one aggregation over
    the order key — per-order distinct suppliers and distinct late
    suppliers — which costs a single shuffle on l_orderkey instead
    of two correlated probes; the filtered result is tiny, so the
    supplier-name join broadcasts.  All-integer output."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    tagged = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).withColumn(
        "late_supp",
        F.when(
            F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90),
            F.col("l_suppkey"),
        ),
    )
    per_order = tagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("late_supp").alias("n_late_supp"),
        F.max("late_supp").alias("sole_supp"),
    )
    culprit = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    return (
        culprit.join(s, culprit.sole_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


register("sole_late_supplier", q_sole_late_supplier, """
        WITH per_order AS (
          SELECT l_orderkey,
                 count(DISTINCT l_suppkey) AS n_supp,
                 count(DISTINCT CASE
                   WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                   THEN l_suppkey END) AS n_late_supp,
                 max(CASE
                   WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                   THEN l_suppkey END) AS sole_supp
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY l_orderkey
        )
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM per_order JOIN supplier ON sole_supp = s_suppkey
        WHERE n_supp > 1 AND n_late_supp = 1
        GROUP BY s_name
    """)


def q_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: parts whose lineitem value exceeds a fixed
    fraction (0.05%) of the corpus-wide value.  Both sides sum in
    exact integer cents (l_extendedprice carries 2 decimals, so
    round(x*100) is an exact int64 and the sum is order-invariant),
    and the share predicate is pure integer arithmetic — a float
    total here would let summation order flip boundary parts.  The
    global total is one broadcast row."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(cents).alias("value_cents")
    )
    total = per_part.agg(
        F.sum("value_cents").alias("total_cents")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_cents") * 2000 > F.col("total_cents"))
        .select(
            "l_partkey",
            F.col("value_cents").cast("bigint").alias("value_cents"),
        )
    )


register("important_parts", q_important_parts, """
        WITH per_part AS (
          SELECT l_partkey,
                 CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS BIGINT) AS value_cents
          FROM lineitem GROUP BY l_partkey
        ), total AS (
          SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents
          FROM per_part
        )
        SELECT l_partkey, value_cents
        FROM per_part CROSS JOIN total
        WHERE value_cents * 2000 > total_cents
    """)


def q_top_revenue_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) achieving maximum revenue in
    a shipdate quarter.  Revenue accumulates in exact integer 1e-4
    units (price has 2 decimals, discount 2, so the product is an
    exact multiple of 1e-4 and round() recovers the same int64 in
    any engine), making the argmax ties-exact; the one-row max joins
    back by broadcast instead of a global window."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    units = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(units).alias("rev_units"))
    )
    mx = rev.agg(F.max("rev_units").alias("max_units"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("rev_units") == F.col("max_units"))
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_units") / 10000.0).alias("total_revenue"),
        )
    )


register("top_revenue_supplier", q_top_revenue_supplier, """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(sum(CAST(round(
                   l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                   AS BIGINT) AS rev_units
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, rev_units / 10000.0 AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_units = (SELECT max(rev_units) FROM rev)
    """)


def q_click_attribution(spark, sf_dir):
    # as-of join: each purchase attributed to the user's most recent
    # click at-or-before it (tagged-union + window carry — one
    # shuffle, no range probe; operators/relational.asof_join)
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    return rel.asof_join(
        purchases,
        clicks,
        on="user_id",
        left_t="ts",
        right_t="ts",
        payload=["event_id", "value"],
        suffix="_click",
    )


# DuckDB has a native ASOF JOIN — the perfect independent oracle for
# the tagged-union/window formulation
register("click_attribution", q_click_attribution, """
        SELECT p.user_id, p.event_id, p.ts, p.value,
               c.event_id AS event_id_click, c.value AS value_click,
               c.ts AS ts_click
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")


def q_multires_rollup(spark, sf_dir):
    # hypertable-style continuous-aggregate cascade: minute partials
    # feed the hour grain, hour feeds day — coarser resolutions
    # re-aggregate the finer level's (n, sum) partials and never
    # rescan raw events (sum/count re-aggregate losslessly).  The
    # minute exchange is reused across its two consumers by AQE.
    ev = _events(spark, sf_dir)

    def up(df, grain):
        return df.groupBy(
            F.date_trunc(grain, "bucket").alias("bucket"), "event_type"
        ).agg(F.sum("n").alias("n"), F.sum("sum_value").alias("sum_value"))

    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("bucket"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    hour = up(minute, "hour")
    day = up(hour, "day")

    def tag(df, res):
        return df.select(
            F.lit(res).alias("resolution"), "bucket", "event_type", "n", "sum_value"
        )

    out = tag(minute, "minute").unionByName(tag(hour, "hour")).unionByName(
        tag(day, "day")
    )
    # round(9): partial-agg summation order differs across engines
    # (~1e-12 absolute on day-grain sums); identical rounding on both
    # sides makes the compare engine-invariant
    return out.withColumn("sum_value", F.round("sum_value", 9))


register("multires_rollup", q_multires_rollup, """
        WITH minute AS (
          SELECT date_trunc('minute', ts) AS bucket, event_type,
                 count(*) AS n, sum(value) AS sum_value
          FROM events GROUP BY 1, 2
        ), hour AS (
          SELECT date_trunc('hour', bucket) AS bucket, event_type,
                 CAST(sum(n) AS BIGINT) AS n, sum(sum_value) AS sum_value
          FROM minute GROUP BY 1, 2
        ), day AS (
          SELECT date_trunc('day', bucket) AS bucket, event_type,
                 CAST(sum(n) AS BIGINT) AS n, sum(sum_value) AS sum_value
          FROM hour GROUP BY 1, 2
        )
        SELECT 'minute' AS resolution, bucket, event_type, n,
               round(sum_value, 9) AS sum_value FROM minute
        UNION ALL
        SELECT 'hour', bucket, event_type, n, round(sum_value, 9) FROM hour
        UNION ALL
        SELECT 'day', bucket, event_type, n, round(sum_value, 9) FROM day""")


def q_storage_audit(spark, sf_dir):
    """Corpus storage accounting: per (source, lang) document
    counts, exact byte totals (octet_length of the UTF-8 text), and
    mean bytes — the "how many TB does each subcorpus cost" audit
    that precedes any mixture decision.  One map-side-combine
    aggregation."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").isNotNull())
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.octet_length("text")).cast("bigint").alias("total_bytes"),
            F.max(F.octet_length("text")).cast("bigint").alias("max_bytes"),
        )
        .withColumn(
            "avg_bytes",
            F.round(
                F.col("total_bytes").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ),
        )
    )


register("storage_audit", q_storage_audit, """
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
               CAST(max(strlen(text)) AS BIGINT) AS max_bytes,
               round(CAST(sum(strlen(text)) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS avg_bytes
        FROM documents WHERE text IS NOT NULL
        GROUP BY source, lang
    """)


def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL sink -> source identity: the documents table written as
    newline-delimited JSON (the interchange format most corpus
    pipelines ingest) and read back with an explicit schema — no
    inference pass, which at 100 TB would mean a second full scan.
    The write shuffles nothing (per-partition files); unicode and
    embedded newlines survive via JSON string escaping.  The oracle
    is the original table, so the gate proves a lossless
    round-trip."""
    import os

    import re

    docs = _t(spark, sf_dir, "documents")
    tag = re.sub(r"\W", "_", sf_dir.rstrip("/").split("/")[-1])
    d = _gate_tmp(spark, f"jsonl_rt_{tag}")
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        docs.write.mode("overwrite").json(d)
    return spark.read.schema(docs.schema).json(d).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


register("jsonl_roundtrip", q_jsonl_roundtrip, "SELECT doc_id, text, lang, source, n_chars FROM documents")


# TPC-H shapes accumulate revenue/balance math in exact integer units
# (cf. q_top_revenue_supplier), so float summation order can never
# diverge between engines.

# lazy: building a Column needs an active SparkContext, and the
# driver may import the registry before it starts Spark
def _rev_units():
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")


# Every integer sum is CAST AS BIGINT (HUGEINT rule).
_U = "CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"


def q_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between supplier-nation and
    customer-nation pairs per ship year (all cross-nation pairs —
    the classic query's two-nation filter is a special case).  Two
    broadcast nation joins (25 rows each); the lineitem->orders->
    customer chain shuffles on its keys once; revenue in exact
    integer 1e-4 units."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("ck"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.sum(_rev_units()).cast("bigint").alias("rev_units"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


register("nation_volume", q_nation_volume, lambda: f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(sum({_U}) AS BIGINT) AS rev_units,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3""")


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape: the share of one supplier nation (nationkey
    0) in the revenue delivered to customers of one region
    (regionkey 0), per order year.  Conditional aggregation over
    the 5-way join; the share divides two exact int64 unit sums, so
    the 9-digit round is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n.filter(F.col("n_regionkey") == 0)),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(s, li.l_suppkey == s.s_suppkey)
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("s_nationkey") == 0, _rev_units()).otherwise(0))
            .cast("bigint")
            .alias("nation_units"),
            F.sum(_rev_units()).cast("bigint").alias("total_units"),
        )
        .withColumn(
            "mkt_share",
            F.round(
                F.col("nation_units").cast("double")
                / F.col("total_units").cast("double"),
                9,
            ),
        )
    )


register("market_share", q_market_share, lambda: f"""
        WITH j AS (
          SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 s_nationkey, {_U} AS units
          FROM lineitem
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey AND n_regionkey = 0
          JOIN supplier ON l_suppkey = s_suppkey
        )
        SELECT o_year,
               CAST(sum(CASE WHEN s_nationkey = 0 THEN units ELSE 0 END)
                    AS BIGINT) AS nation_units,
               CAST(sum(units) AS BIGINT) AS total_units,
               round(CAST(sum(CASE WHEN s_nationkey = 0 THEN units ELSE 0 END)
                          AS DOUBLE)
                     / CAST(sum(units) AS DOUBLE), 9) AS mkt_share
        FROM j GROUP BY o_year""")


def q_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape: profit per supplier nation and order year.
    No partsupp table in the testdata, so supply cost is modeled as
    10% of p_retailprice x quantity — the substitution keeps the
    join DAG identical (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈
    orders) and the arithmetic exact: quantity is integer-valued,
    retailprice has 2 decimals, so cost x 1000 is an exact int64
    at the same 1e-4 scale as revenue."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    n = _t(spark, sf_dir, "nation")
    cost_units = F.round(
        F.col("l_quantity") * F.col("p_retailprice") * 1000
    ).cast("bigint")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(_rev_units() - cost_units).cast("bigint").alias("profit_units"))
    )


register("profit_by_nation", q_profit_by_nation, lambda: f"""
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(sum({_U}
                        - CAST(round(l_quantity * p_retailprice * 1000)
                               AS BIGINT)) AS BIGINT) AS profit_units
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        GROUP BY 1, 2""")


def q_returned_customers(spark, sf_dir):
    """TPC-H Q10 shape: top 20 customers by revenue lost to returns
    (l_returnflag = 'R') in one quarter.  The global top-k is
    orderBy+limit — Spark's TakeOrdered, a per-partition heap then
    a driver merge of 20-row heads, never a single-partition window
    — with the exact integer revenue and the unique custkey as tie
    break so the cut is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1995-01-01"))
                & (F.col("o_orderdate") < F.lit("1995-04-01"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_units()).cast("bigint").alias("rev_units"))
        .orderBy(F.col("rev_units").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


register("returned_customers", q_returned_customers, lambda: f"""
        SELECT c_custkey, c_name, n_name,
               CAST(sum({_U}) AS BIGINT) AS rev_units
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY rev_units DESC, c_custkey ASC
        LIMIT 20""")


def q_order_count_dist(spark, sf_dir):
    """TPC-H Q13 shape: the distribution of orders-per-customer,
    including zero-order customers via the left outer join (the
    part inner joins cannot express).  Two aggregations: per
    customer (shuffle on custkey), then the tiny count-of-counts."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


register("order_count_dist", q_order_count_dist, """
        WITH per_cust AS (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY c_count""")


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from lineitems whose quantity is
    below half their part's average quantity.  The correlated
    scalar subquery becomes a per-part aggregate re-joined to
    lineitem (AQE broadcasts it when small); the predicate is
    rewritten integer-exact as qty * 2 * cnt < sum_qty — quantities
    are integer-valued, so no float-division boundary exists for
    engines to disagree on."""
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").cast("bigint").alias("sumq"),
        F.count("*").cast("bigint").alias("cnt"),
    )
    j = li.join(pa, li.l_partkey == F.col("pk")).filter(
        F.col("l_quantity") * 2 * F.col("cnt") < F.col("sumq")
    )
    return j.agg(
        F.sum(_rev_units()).cast("bigint").alias("rev_units"),
        F.count("*").cast("bigint").alias("n_items"),
        F.round(F.sum(_rev_units()) / 70000.0, 9).alias("avg_yearly"),
    )


register("small_qty_revenue", q_small_qty_revenue, lambda: f"""
        WITH pa AS (
          SELECT l_partkey AS pk,
                 CAST(sum(l_quantity) AS BIGINT) AS sumq,
                 count(*) AS cnt
          FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST(sum({_U}) AS BIGINT) AS rev_units,
               count(*) AS n_items,
               round(CAST(sum({_U}) AS BIGINT) / 70000.0, 9) AS avg_yearly
        FROM lineitem JOIN pa ON l_partkey = pk
        WHERE l_quantity * 2 * cnt < sumq""")


def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under three OR'd brand/size/
    quantity conjunctions — the canonical disjunctive-pushdown
    plan: Catalyst extracts the common l_quantity bounds and the
    join key predicate below the join, then evaluates the residual
    disjunction post-join.  Single-row exact-integer output."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 11))
    )
    arm2 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 20))
    )
    arm3 = (
        (F.col("p_brand") == "Brand#34")
        & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity").between(20, 30))
    )
    return j.filter(arm1 | arm2 | arm3).agg(
        F.sum(_rev_units()).cast("bigint").alias("rev_units"),
        F.count("*").cast("bigint").alias("n_items"),
    )


register("disjunctive_revenue", q_disjunctive_revenue, lambda: f"""
        SELECT CAST(sum({_U}) AS BIGINT) AS rev_units,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)""")


def q_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: customers holding above-average positive
    balances who never placed an order, counted per nation.  The
    scalar AVG subquery becomes a broadcast one-row join with the
    comparison rewritten integer-exact (bal_cents * n > sum_cents);
    the NOT EXISTS is a left-anti join on custkey against the
    urgent-priority order subset (every synthetic customer has SOME
    order, so the classic all-orders anti join would be vacuous).
    No phone column in the testdata, so nationkey stands in for the
    phone-prefix grouping."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    cu = c.withColumn("bal_cents", cents)
    stats = cu.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("sum_cents"),
        F.count("*").alias("n_pos"),
    )
    return (
        cu.join(F.broadcast(stats))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            cu.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum("bal_cents").cast("bigint").alias("totbal_cents"),
        )
    )


register("idle_customers", q_idle_customers, """
        WITH cu AS (
          SELECT c_custkey, c_nationkey,
                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
          FROM customer
        ), stats AS (
          SELECT CAST(sum(bal_cents) AS BIGINT) AS sum_cents,
                 count(*) AS n_pos
          FROM cu WHERE bal_cents > 0
        )
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
               count(*) AS numcust,
               CAST(sum(bal_cents) AS BIGINT) AS totbal_cents
        FROM cu, stats
        WHERE bal_cents * n_pos > sum_cents
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
          )
        GROUP BY 1""")


def q_ohlc_bars(spark, sf_dir):
    """Per-type hourly OHLC bars over the event stream — the
    time-series downsampling shape (financial bars, metrics
    rollups).  Open/close are min_by/max_by on the (ts, event_id)
    compound key so duplicate timestamps cannot make first/last
    nondeterministic; high/low/volume ride the same one-pass
    map-side-combine aggregation.  One shuffle on the bounded
    (type, hour) key."""
    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar_start"),
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 9).alias("volume"),
        )
    )


register("ohlc_bars", q_ohlc_bars, """
        WITH e AS (
          SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP)
                   AS bar_start,
                 value, ts, event_id
          FROM events WHERE value IS NOT NULL
        ), r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY event_type, bar_start
                                    ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY event_type, bar_start
                                    ORDER BY ts DESC, event_id DESC) AS rn_d
          FROM e
        )
        SELECT event_type, bar_start,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               count(*) AS n_events,
               round(sum(value), 9) AS volume
        FROM r GROUP BY 1, 2""")


def q_unshipped_orders(spark, sf_dir):
    """TPC-H Q3 shape: top-10 highest-revenue orders in one market
    segment that were placed before the cutoff but (partly) shipped
    after it.  Both date filters push into the scans before the
    3-way join; the top-k is TakeOrdered on (exact integer revenue
    desc, orderkey) — deterministic, never a global window.  This
    completes the expressible TPC-H shape inventory (Q12/Q20 need
    shipmode/partsupp columns the testdata lacks)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cut = "1995-06-01"
    j = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(
            o.filter(F.col("o_orderdate") < F.lit(cut)),
            c.c_custkey == o.o_custkey,
        )
        .join(
            li.filter(F.col("l_shipdate") > F.lit(cut)),
            o.o_orderkey == li.l_orderkey,
        )
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev_units()).cast("bigint").alias("rev_units"))
        .orderBy(F.col("rev_units").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


register("unshipped_orders", q_unshipped_orders, lambda: f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(sum({_U}) AS BIGINT) AS rev_units
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1995-06-01 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY rev_units DESC, l_orderkey ASC
        LIMIT 10""")


def q_brand_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence with lift: brand pairs appearing
    in the same order, top-20 by support.  ONE order-keyed shuffle
    total: the per-order distinct brand set aggregates via
    collect_set (map-side partials; the set is bounded by the
    per-order line count, never the corpus), and the quadratic pair
    expansion happens IN-ROW over that bounded sorted array — no
    self-join, so the distinct relation is never re-shuffled or
    re-scanned.  The basket table is checkpointed eagerly (the
    order-count action materializes it anyway) and feeds the brand
    totals, the pair counts, and the N in lift.  Lift divides exact
    integer counts once (n_ab * N / (n_a * n_b)); top-k is
    TakeOrdered with full-key tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    gs = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("_bs"))
        .localCheckpoint(eager=True)
    )
    n_orders = gs.count()
    per_brand = (
        gs.select(F.explode("_bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("_nb"))
    )
    bs = F.col("_bs")
    pair_arr = F.flatten(
        F.transform(
            bs,
            lambda x, i: F.transform(
                F.slice(bs, i + F.lit(2), F.size(bs)),
                lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")),
            ),
        )
    )
    pairs = (
        gs.filter(F.size("_bs") >= 2)
        .select(F.explode(pair_arr).alias("_p"))
        .select("_p.brand_a", "_p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    na = per_brand.select(
        F.col("p_brand").alias("brand_a"), F.col("_nb").alias("_na")
    )
    nb = per_brand.select(
        F.col("p_brand").alias("brand_b"), F.col("_nb").alias("_nb2")
    )
    return (
        pairs.join(F.broadcast(na), on="brand_a")
        .join(F.broadcast(nb), on="brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double")
                * F.lit(float(n_orders))
                / (F.col("_na").cast("double") * F.col("_nb2")),
                9,
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(20)
    )


register("brand_cooccurrence", q_brand_cooccurrence, """
        WITH ob AS (
          SELECT DISTINCT l_orderkey, p_brand
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), no AS (
          SELECT count(DISTINCT l_orderkey) AS n FROM ob
        ), pb AS (
          SELECT p_brand, count(*) AS nb FROM ob GROUP BY 1
        ), pairs AS (
          SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                 count(*) AS n_ab
          FROM ob a JOIN ob b
            ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
          GROUP BY 1, 2
        )
        SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
               round((CAST(n_ab AS DOUBLE) * no.n)
                     / (CAST(na.nb AS DOUBLE) * nb.nb), 9) AS lift
        FROM pairs, no
        JOIN pb na ON na.p_brand = brand_a
        JOIN pb nb ON nb.p_brand = brand_b
        ORDER BY n_ab DESC, brand_a, brand_b
        LIMIT 20""")


def q_late_line_priority(spark, sf_dir):
    """TPC-H Q12 shape (adapted: the testdata has no l_shipmode, so
    l_linestatus stands in for the mode grouping): for lines shipped
    more than 30 days after the order date, count high-priority
    (1-URGENT/2-HIGH) vs lower-priority orders per line status —
    the join + dual conditional aggregation, one shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30))
        .groupBy("l_linestatus")
        .agg(
            F.sum(hi.cast("bigint")).cast("bigint").alias("high_line_count"),
            F.sum((~hi).cast("bigint")).cast("bigint").alias("low_line_count"),
        )
    )


register("late_line_priority", q_late_line_priority, """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        GROUP BY l_linestatus""")


def q_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (adapted: no partsupp/availqty in the
    testdata, so the 'more than half the available quantity'
    predicate becomes 'total 1995 shipped quantity of red-named
    parts above a fixed threshold'): the nested semi-join chain —
    parts by name prefix -> per-(supp, part) shipped quantity ->
    qualifying suppliers -> supplier names.  Exact integer
    quantities; both filters push below the joins."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    green = p.filter(F.col("p_name").contains("red")).select("p_partkey")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
        )
        .join(green, li.l_partkey == green.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").cast("bigint").alias("qty"))
    )
    qual = shipped.filter(F.col("qty") > 50).select("l_suppkey").distinct()
    return (
        s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


register("excess_suppliers", q_excess_suppliers, """
        WITH shipped AS (
          SELECT l_suppkey, l_partkey,
                 CAST(sum(l_quantity) AS BIGINT) AS qty
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
            AND l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
            )
          GROUP BY 1, 2
        )
        SELECT s_suppkey, s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM shipped WHERE qty > 50
        )""")


def q_position_attribution(spark, sf_dir):
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    views preceding a user's FIRST purchase share the conversion
    credit — first and last touch 0.4 each, the middle splits 0.2
    evenly (single touch takes 1.0; two touches 0.5/0.5).  The
    credit is an exact rational of the touch count rounded once;
    windows partition on user_id (bounded per-user history), and
    the first-purchase table is a pre-aggregated broadcast."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    first_p = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("_pts"))
    )
    views = e.filter(F.col("event_type") == "view").join(
        F.broadcast(first_p), on="user_id"
    ).filter(F.col("ts") < F.col("_pts"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = views.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.row_number().over(w).alias("pos"),
        F.count("*").over(W.partitionBy("user_id")).alias("n_views"),
    )
    credit = (
        F.when(F.col("n_views") == 1, F.lit(1.0))
        .when(F.col("pos") == 1, F.when(F.col("n_views") == 2, 0.5).otherwise(0.4))
        .when(
            F.col("pos") == F.col("n_views"),
            F.when(F.col("n_views") == 2, 0.5).otherwise(0.4),
        )
        .otherwise(F.lit(0.2) / (F.col("n_views") - 2))
    )
    return ranked.select(
        "user_id",
        "view_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("n_views").cast("bigint").alias("n_views"),
        F.round(credit, 9).alias("credit"),
    )


register("position_attribution", q_position_attribution, """
        WITH fp AS (
          SELECT user_id, min(ts) AS pts
          FROM events WHERE event_type = 'purchase' GROUP BY 1
        ), v AS (
          SELECT e.user_id, e.event_id AS view_id, e.ts
          FROM events e JOIN fp USING (user_id)
          WHERE e.event_type = 'view' AND e.user_id IS NOT NULL
            AND e.ts < fp.pts
        ), r AS (
          SELECT user_id, view_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, view_id) AS pos,
                 count(*) OVER (PARTITION BY user_id) AS n_views
          FROM v
        )
        SELECT user_id, view_id,
               CAST(pos AS BIGINT) AS pos,
               CAST(n_views AS BIGINT) AS n_views,
               round(CASE
                 WHEN n_views = 1 THEN CAST(1.0 AS DOUBLE)
                 WHEN pos = 1 THEN CASE WHEN n_views = 2
                                        THEN CAST(0.5 AS DOUBLE)
                                        ELSE CAST(0.4 AS DOUBLE) END
                 WHEN pos = n_views THEN CASE WHEN n_views = 2
                                              THEN CAST(0.5 AS DOUBLE)
                                              ELSE CAST(0.4 AS DOUBLE) END
                 ELSE CAST(0.2 AS DOUBLE) / (n_views - 2)
               END, 9) AS credit
        FROM r""")


def q_rfm_features(spark, sf_dir):
    """Per-user RFM feature table (recency / frequency / monetary +
    breadth) — the standard churn-model feature engineering pass:
    one map-side-combined aggregation over events plus a broadcast
    one-row corpus horizon; recency in exact integer microseconds,
    monetary rounded once.  At 100 TB this is the shape feature
    stores materialize nightly — no windows, one shuffle on the
    user key."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    horizon = e.agg(F.max("ts").alias("_hz"))
    per_user = e.groupBy("user_id").agg(
        F.max("ts").alias("_last"),
        F.count("*").cast("bigint").alias("frequency"),
        F.round(F.sum("value"), 9).alias("monetary"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.countDistinct(F.to_date("ts")).cast("bigint").alias("active_days"),
    )
    return (
        per_user.crossJoin(F.broadcast(horizon))
        .withColumn(
            "recency_us",
            (
                F.unix_micros(F.col("_hz")) - F.unix_micros(F.col("_last"))
            ).cast("bigint"),
        )
        .select(
            "user_id", "recency_us", "frequency", "monetary",
            "n_types", "active_days",
        )
    )


register("rfm_features", q_rfm_features, """
        WITH hz AS (
          SELECT max(ts) AS h FROM events WHERE user_id IS NOT NULL
        )
        SELECT user_id,
               CAST(epoch_us(hz.h) - epoch_us(max(ts)) AS BIGINT) AS recency_us,
               count(*) AS frequency,
               round(sum(value), 9) AS monetary,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days
        FROM events, hz
        WHERE user_id IS NOT NULL
        GROUP BY user_id, hz.h""")


def q_user_value_ranks(spark, sf_dir):
    """Distribution-position window functions not exercised
    elsewhere — ntile, percent_rank, cume_dist, nth_value — per
    user over the (value, event_id) total order.  Partitions are
    per-user (bounded history), never per-type; percent_rank and
    cume_dist are exact rationals of integer ranks so both engines
    agree bit-for-bit."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("value", "event_id")
    wf = (
        W.partitionBy("user_id")
        .orderBy("value", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return e.select(
        "user_id",
        "event_id",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.round(F.nth_value("value", 2).over(wf), 9).alias("second_lowest"),
    )


register("user_value_ranks", q_user_value_ranks, """
        SELECT user_id, event_id,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               round(percent_rank() OVER w, 9) AS pct_rank,
               round(cume_dist() OVER w, 9) AS cume,
               round(nth_value(value, 2) OVER (
                 PARTITION BY user_id ORDER BY value, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ), 9) AS second_lowest
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""")


def q_brand_top_parts(spark, sf_dir):
    """Top-3 DISTINCT price tiers per brand with ties kept —
    dense_rank ≤ k, the rank-with-ties semantics row_number top-k
    queries (returned_customers, group_reservoir) deliberately
    avoid.  Bounded per-brand partitions; Spark's WindowGroupLimit
    caps partitions before the filter."""
    p = _t(spark, sf_dir, "part")
    dr = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        p.withColumn("price_tier", F.dense_rank().over(dr).cast("bigint"))
        .filter(F.col("price_tier") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "price_tier")
    )


register("brand_top_parts", q_brand_top_parts, """
        SELECT p_brand, p_partkey, p_retailprice,
               CAST(dense_rank() OVER (
                 PARTITION BY p_brand ORDER BY p_retailprice DESC
               ) AS BIGINT) AS price_tier
        FROM part
        QUALIFY price_tier <= 3""")


def q_time_weighted_avg(spark, sf_dir):
    """Per-user time-weighted average value — the correct mean for
    irregularly-sampled series (each value holds until the next
    event): weights are exact integer microsecond gaps from lead(),
    value in integer cents, so the weighted sum is exact int64 and
    one division closes it.  The trailing event carries no weight
    (no holding interval), matching the standard TWA definition."""
    e = _events(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("_vc"),
        (
            F.unix_micros(F.lead("ts", 1).over(w))
            - F.unix_micros(F.col("ts"))
        ).cast("bigint").alias("_gap_us"),
    ).filter(F.col("_gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum("_gap_us").cast("bigint").alias("span_us"),
        F.round(
            F.sum(F.col("_vc") * F.col("_gap_us")).cast("double")
            / F.sum("_gap_us").cast("double")
            / 100.0,
            9,
        ).alias("twa_value"),
    )


register("time_weighted_avg", q_time_weighted_avg, """
        WITH g AS (
          SELECT user_id,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 epoch_us(lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 )) - epoch_us(ts) AS gap
          FROM events
          WHERE value IS NOT NULL AND user_id IS NOT NULL
        )
        SELECT user_id,
               count(*) AS n_intervals,
               CAST(sum(gap) AS BIGINT) AS span_us,
               round(CAST(sum(vc * gap) AS DOUBLE)
                     / CAST(sum(gap) AS DOUBLE) / 100.0, 9) AS twa_value
        FROM g WHERE gap IS NOT NULL
        GROUP BY user_id""")


def q_type_streaks(spark, sf_dir):
    """Gaps-and-islands: maximal runs of consecutive same-type
    events per user (ordered by ts, event_id), via the classic
    rn - rn_per_type island key — all-integer, no iteration.
    Emits one row per island with its length and bounds; the
    per-user window partitions are bounded histories."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w_all = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    isl = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (
            F.row_number().over(w_all) - F.row_number().over(w_type)
        ).alias("_isl"),
    )
    return (
        isl.groupBy("user_id", "event_type", "_isl")
        .agg(
            F.count("*").cast("bigint").alias("streak_len"),
            F.min("event_id").cast("bigint").alias("first_event"),
            F.max("event_id").cast("bigint").alias("last_event"),
        )
        .filter(F.col("streak_len") >= 3)
        .select(
            "user_id", "event_type", "streak_len",
            "first_event", "last_event",
        )
    )


register("type_streaks", q_type_streaks, """
        WITH isl AS (
          SELECT user_id, event_type, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id)
                 - row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS g
          FROM events WHERE user_id IS NOT NULL
        )
        SELECT user_id, event_type,
               count(*) AS streak_len,
               CAST(min(event_id) AS BIGINT) AS first_event,
               CAST(max(event_id) AS BIGINT) AS last_event
        FROM isl
        GROUP BY user_id, event_type, g
        HAVING count(*) >= 3""")


def q_yoy_revenue(spark, sf_dir):
    """Year-over-year monthly revenue growth: the calendar
    self-join pattern — monthly exact-unit totals joined to the
    same month one year earlier — instead of a lag(12) window over
    the global month series (which would plan a SinglePartition
    sort at any scale).  Growth divides two exact int64 unit sums
    once."""
    li = _t(spark, sf_dir, "lineitem")
    # both calendar self-join sides consume the tiny month relation;
    # checkpoint so the lineitem scan + aggregate runs once
    monthly = (
        li.groupBy(
            F.year("l_shipdate").cast("bigint").alias("yr"),
            F.month("l_shipdate").cast("bigint").alias("mo"),
        )
        .agg(F.sum(_rev_units()).cast("bigint").alias("rev_units"))
        .localCheckpoint(eager=False)
    )
    prev = monthly.select(
        (F.col("yr") + 1).alias("yr"),
        F.col("mo"),
        F.col("rev_units").alias("prev_units"),
    )
    return (
        monthly.join(prev, on=["yr", "mo"])
        .withColumn(
            "yoy_growth",
            F.round(
                (F.col("rev_units") - F.col("prev_units")).cast("double")
                / F.col("prev_units").cast("double"),
                9,
            ),
        )
        .select("yr", "mo", "rev_units", "prev_units", "yoy_growth")
    )


register("yoy_revenue", q_yoy_revenue, lambda: f"""
        WITH monthly AS (
          SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
                 CAST(month(l_shipdate) AS BIGINT) AS mo,
                 CAST(sum({_U}) AS BIGINT) AS rev_units
          FROM lineitem GROUP BY 1, 2
        )
        SELECT c.yr, c.mo, c.rev_units,
               p.rev_units AS prev_units,
               round(CAST(c.rev_units - p.rev_units AS DOUBLE)
                     / CAST(p.rev_units AS DOUBLE), 9) AS yoy_growth
        FROM monthly c JOIN monthly p
          ON c.yr = p.yr + 1 AND c.mo = p.mo""")


def q_conversion_lag(spark, sf_dir):
    """Funnel timing: exact interpolated quantiles of the
    signup-to-first-purchase delay over users who converted after
    signing up.  Per-user firsts are one hash-partitioned min-agg;
    delays are exact int64 microseconds; the final one-row quantile
    runs over the bounded converted-user set."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    fu = e.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "signup", F.unix_micros("ts")
            )
        ).alias("_s"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.unix_micros("ts")
            )
        ).alias("_p"),
    )
    lag_us = (F.col("_p") - F.col("_s")).cast("bigint")
    conv = fu.filter(
        F.col("_s").isNotNull()
        & F.col("_p").isNotNull()
        & (F.col("_p") > F.col("_s"))
    ).select(lag_us.alias("lag_us"))
    pct = F.percentile(
        F.col("lag_us"), F.array(F.lit(0.5), F.lit(0.9))
    )
    return conv.agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.round(pct[0] / 1000000.0, 6).alias("p50_seconds"),
        F.round(pct[1] / 1000000.0, 6).alias("p90_seconds"),
    )


register("conversion_lag", q_conversion_lag, """
        WITH fu AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END)
                   AS s,
                 min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS p
          FROM events WHERE user_id IS NOT NULL
          GROUP BY user_id
        ), conv AS (
          SELECT CAST(p - s AS BIGINT) AS lag_us FROM fu
          WHERE s IS NOT NULL AND p IS NOT NULL AND p > s
        )
        SELECT CAST(count(*) AS BIGINT) AS n_converted,
               round(quantile_cont(lag_us, 0.5)
                     / CAST(1000000 AS DOUBLE), 6) AS p50_seconds,
               round(quantile_cont(lag_us, 0.9)
                     / CAST(1000000 AS DOUBLE), 6) AS p90_seconds
        FROM conv""")


def q_path_trigrams(spark, sf_dir):
    """Top-10 three-step behavior paths (A>B>C event-type
    trigrams) from each user's ordered sequence — the order-2
    companion to markov_transitions.  Two leads in one
    user-partitioned window, map-side-combined counts, TakeOrdered
    top-k with the full (count, path) tiebreak."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select(
            F.col("event_type").alias("_t1"),
            F.lead("event_type", 1).over(w).alias("_t2"),
            F.lead("event_type", 2).over(w).alias("_t3"),
        )
        .filter(F.col("_t2").isNotNull() & F.col("_t3").isNotNull())
        .select(
            F.concat_ws(">", "_t1", "_t2", "_t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return t.orderBy(F.desc("n"), F.asc("path")).limit(10)


register("path_trigrams", q_path_trigrams, """
        WITH s AS (
          SELECT event_type AS t1,
                 lead(event_type, 1) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t2,
                 lead(event_type, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS t3
          FROM events WHERE user_id IS NOT NULL
        )
        SELECT concat_ws('>', t1, t2, t3) AS path,
               CAST(count(*) AS BIGINT) AS n
        FROM s WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        GROUP BY 1
        ORDER BY n DESC, path LIMIT 10""")


def q_cube_nation_year(spark, sf_dir):
    """CUBE aggregation with grouping_id — all four (nation, year)
    rollup combinations of exact revenue cents in one pass (the
    engine expands the grouping sets map-side; Spark's grouping_id
    bitmask equals DuckDB's grouping()).  The dimensional (join-fed)
    CUBE next to cube_revenue's single-table (returnflag,
    linestatus) cube and rollup_revenue's ROLLUP."""
    li = _t(spark, sf_dir, "lineitem")
    o2 = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    j = (
        li.join(o2, li.l_orderkey == o2.o_orderkey)
        .join(c, o2.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            rev.alias("_rc"),
        )
    )
    return j.cube("n_name", "o_year").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.sum("_rc").cast("bigint").alias("revenue_cents"),
        F.count("*").cast("bigint").alias("n_lines"),
    )


register("cube_nation_year", q_cube_nation_year, """
        WITH j AS (
          SELECT n_name,
                 CAST(year(o_orderdate) AS BIGINT) AS o_year,
                 CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS rc
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
        )
        SELECT n_name, o_year,
               CAST(grouping(n_name, o_year) AS BIGINT) AS gid,
               CAST(sum(rc) AS BIGINT) AS revenue_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM j GROUP BY CUBE (n_name, o_year)""")


def q_range_frame_sum(spark, sf_dir):
    """Time-RANGE window frame: each event's trailing 30-minute
    spend per user via RANGE BETWEEN on the microsecond epoch —
    the frame follows event TIME, not row count (peers with equal
    timestamps aggregate together in both engines).  User-
    partitioned windows hash-distribute; sums are exact cents."""
    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    us = F.unix_micros("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-1800 * 1000000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents).over(w).cast("bigint").alias("trailing_30m_cents"),
    )


register("range_frame_sum", q_range_frame_sum, """
        SELECT event_id, user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS trailing_30m_cents
        FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL""")


def q_unpivot_metrics(spark, sf_dir):
    """Wide-to-long melt of a per-user feature table via the native
    unpivot operator (one projection + explode, no join): three
    exact int64 metrics become (user_id, metric, value) rows — the
    shape feature stores and metric sinks ingest."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    wide = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("n_purchases"),
        F.sum(F.when(F.col("value").isNotNull(), cents).otherwise(0))
        .cast("bigint")
        .alias("total_cents"),
    )
    return wide.unpivot(
        ["user_id"],
        ["n_events", "n_purchases", "total_cents"],
        "metric",
        "value",
    )


register("unpivot_metrics", q_unpivot_metrics, """
        WITH wide AS (
          SELECT user_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                          END) AS BIGINT) AS n_purchases,
                 CAST(sum(CASE WHEN value IS NOT NULL
                               THEN CAST(round(value * 100) AS BIGINT)
                               ELSE 0 END) AS BIGINT) AS total_cents
          FROM events WHERE user_id IS NOT NULL
          GROUP BY user_id
        )
        SELECT user_id, 'n_events' AS metric, n_events AS value FROM wide
        UNION ALL
        SELECT user_id, 'n_purchases', n_purchases FROM wide
        UNION ALL
        SELECT user_id, 'total_cents', total_cents FROM wide""")


def q_orc_roundtrip(spark, sf_dir):
    """ORC sink -> source identity: the orders table written as ORC
    (the second columnar interchange format next to parquet; zlib
    striped, predicate-pushdown-capable) and read back with the
    original schema — the oracle is the source table, so the gate
    proves a lossless round-trip including timestamps.  Same
    session-scoped staging discipline as jsonl_roundtrip."""
    import os
    import re

    o2 = _t(spark, sf_dir, "orders")
    tag = re.sub(r"\W", "_", sf_dir.rstrip("/").split("/")[-1])
    d = _gate_tmp(spark, f"orc_rt_{tag}")
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        o2.write.mode("overwrite").orc(d)
    return spark.read.schema(o2.schema).orc(d).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )


register("orc_roundtrip", q_orc_roundtrip, "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
    " o_orderdate, o_orderpriority FROM orders")


def q_csv_roundtrip(spark, sf_dir):
    """CSV sink -> source identity for the supplier table: written
    with header + explicit quoting and read back with an explicit
    schema (no inference pass — at scale that is a second full
    scan).  Doubles survive via Spark's round-trippable default
    formatting; the oracle is the source table, proving the
    lossless round-trip."""
    import os
    import re

    s = _t(spark, sf_dir, "supplier")
    tag = re.sub(r"\W", "_", sf_dir.rstrip("/").split("/")[-1])
    d = _gate_tmp(spark, f"csv_rt_{tag}")
    marker = os.path.join(d, "_SUCCESS")
    if not os.path.exists(marker):
        s.write.mode("overwrite").option("header", True).csv(d)
    return spark.read.schema(s.schema).option("header", True).csv(d).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )


register("csv_roundtrip", q_csv_roundtrip, "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier")


def q_pareto_parts(spark, sf_dir):
    """Pareto frontier (skyline) over parts — the multi-objective
    shortlist on (cheaper retail price, larger size).  A part is
    dominated iff a strictly-cheaper part is at least as large
    (M1 >= size) or a same-price part is strictly larger
    (M2 > size).  M1 is a cumulative max over price order computed
    WITHOUT a single-partition window: 1024 price-range buckets,
    per-bucket RANGE windows for the in-bucket prefix, and a
    broadcast inequality join over the bounded bucket maxima for
    the cross-bucket prefix (the corpus_shuffle two-level scan).
    All comparisons are exact ints, so membership is
    deterministic."""
    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    base = p.select(
        "p_partkey",
        cents.alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    mx = base.agg(F.max("price_c").alias("_mp"))
    # bucketed relation checkpoints once: the window branch, the
    # bucket maxima, and the distinct-bucket prefix all consume it,
    # and without the checkpoint each rebuilds the scan + bucketing
    # (and re-runs the window sorts) independently
    b0 = (
        base.crossJoin(F.broadcast(mx))
        .withColumn(
            "bkt",
            F.floor(
                (F.col("price_c") * 1024).cast("double")
                / (F.col("_mp") + 1).cast("double")
            ).cast("bigint"),
        )
        .localCheckpoint(eager=False)
    )
    w_in = (
        W.partitionBy("bkt")
        .orderBy("price_c")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    w_eq = W.partitionBy("price_c")
    b = b0.withColumn("_m1_in", F.max("size").over(w_in)).withColumn(
        "_m2", F.max("size").over(w_eq)
    )
    bmax = b0.groupBy(F.col("bkt").alias("_bb")).agg(
        F.max("size").alias("_bm")
    )
    pre = (
        b0.select("bkt").distinct()
        .join(F.broadcast(bmax), F.col("_bb") < F.col("bkt"), "left")
        .groupBy("bkt")
        .agg(F.max("_bm").alias("_m1_pre"))
    )
    j = b.join(F.broadcast(pre), on="bkt")
    m1 = F.greatest(
        F.coalesce(F.col("_m1_in"), F.lit(-1)),
        F.coalesce(F.col("_m1_pre"), F.lit(-1)),
    )
    return j.filter(
        ~((m1 >= F.col("size")) | (F.col("_m2") > F.col("size")))
    ).select("p_partkey", "price_c", "size")


register("pareto_parts", q_pareto_parts, """
        WITH b AS (
          SELECT p_partkey,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
                 CAST(p_size AS BIGINT) AS size
          FROM part
        ), m AS (
          SELECT p_partkey, price_c, size,
                 max(size) OVER (
                   ORDER BY price_c
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ) AS m1,
                 max(size) OVER (PARTITION BY price_c) AS m2
          FROM b
        )
        SELECT p_partkey, price_c, size FROM m
        WHERE NOT (coalesce(m1, -1) >= size OR m2 > size)""")


def q_above_brand_avg(spark, sf_dir):
    """Correlated-scalar-subquery shape: parts priced strictly
    above their brand's average retail price — the oracle keeps
    the textbook correlated form (DuckDB decorrelates it), while
    the engine side expresses the decorrelated plan directly (one
    broadcast aggregate join).  The comparison is EXACT integer
    cross-multiplication (price * n > sum), so no float average
    can flip a boundary row."""
    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("bigint")
    base = p.select("p_partkey", "p_brand", cents.alias("price_c"))
    ag = base.groupBy(F.col("p_brand").alias("_b")).agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum("price_c").cast("bigint").alias("_s"),
    )
    return (
        base.join(F.broadcast(ag), F.col("_b") == F.col("p_brand"))
        .filter(F.col("price_c") * F.col("_n") > F.col("_s"))
        .select("p_partkey", "p_brand", "price_c")
    )


register("above_brand_avg", q_above_brand_avg, """
        WITH b AS (
          SELECT p_partkey, p_brand,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
          FROM part
        )
        SELECT p_partkey, p_brand, price_c
        FROM b o
        WHERE o.price_c * (SELECT CAST(count(*) AS BIGINT) FROM b i
                           WHERE i.p_brand = o.p_brand)
              > (SELECT CAST(sum(price_c) AS BIGINT) FROM b i
                 WHERE i.p_brand = o.p_brand)""")


def q_csv_corrupt_records(spark, sf_dir):
    """Malformed-CSV ingestion policy: a fixed 7-row fixture with a
    type-mismatched cell, a short row, an over-long row, and empty
    cells, read in PERMISSIVE mode with a _corrupt_record column —
    pinning the quarantine semantics a 100-TB ingest relies on:
    only the type-mismatched cell quarantines its row (raw text in
    the corrupt column, job never dies); short rows pad with
    nulls, over-long rows DROP the extra tokens, and empty cells
    are nulls -- all ingested as good.  The oracle is the literal
    summary of those observed-and-pinned rules (7 rows, 1 corrupt,
    good qty 2+4+7+8+9 = 30)."""
    import os

    d = _gate_tmp(spark, "csvbad")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "rows.csv")
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(
                "id,qty,price\n"
                "1,2,3.5\n"
                "2,4,1.25\n"
                "3,,2.0\n"
                "4,notanint,9.0\n"
                "5,7\n"
                "6,8,1.0,extra\n"
                "7,9,0.5\n"
            )
    df = (
        spark.read.schema(
            "id int, qty int, price double, _corrupt_record string"
        )
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    good_qty = F.when(
        F.col("_corrupt_record").isNull(), F.col("qty")
    ).otherwise(0)
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.col("_corrupt_record").isNull().cast("bigint"))
        .cast("bigint")
        .alias("n_good"),
        F.sum(F.coalesce(good_qty, F.lit(0)))
        .cast("bigint")
        .alias("good_qty_sum"),
    )


register("csv_corrupt_records", q_csv_corrupt_records, """
        SELECT CAST(7 AS BIGINT) AS n_rows,
               CAST(1 AS BIGINT) AS n_corrupt,
               CAST(6 AS BIGINT) AS n_good,
               CAST(30 AS BIGINT) AS good_qty_sum""")


def q_user_erasure(spark, sf_dir):
    """Right-to-be-forgotten pass: erase every event of a deletion
    list (users with id % 17 == 0 — the stand-in for a DSAR batch)
    via a single anti-join rewrite, then AUDIT the erasure in the
    same result row: rows before/after, users and events removed,
    and the must-be-zero count of surviving rows for deleted users
    — the compliance evidence a 100-TB store needs alongside the
    delete itself.  All exact int64.

    Shape: the deletion list and the erased output are each BUILT
    ONCE (checkpoints — in production the erased table is a written
    dataset, which the checkpoint stands in for).  The pre-erasure
    counts come from one flagged pass over events; the
    deleted_rows_remaining audit stays a genuine independent
    semi-join against the erased output, NOT an algebraic
    simplification — it must be able to catch a broken anti-join."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    dele = (
        e.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 17 == 0)
        .localCheckpoint(eager=False)
    )
    # one pass over events for both pre-erasure counts
    flagged = e.join(
        F.broadcast(dele.withColumn("_del", F.lit(1))),
        on="user_id",
        how="left",
    )
    pre = flagged.agg(
        F.count("*").cast("bigint").alias("n_before"),
        F.sum(
            F.when(F.col("_del").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_events_removed"),
    )
    nd = dele.agg(F.count("*").cast("bigint").alias("n_deleted_users"))
    erased = e.join(
        F.broadcast(dele), on="user_id", how="left_anti"
    ).localCheckpoint(eager=False)
    after = erased.agg(F.count("*").cast("bigint").alias("n_after"))
    rem = (
        erased.join(F.broadcast(dele), on="user_id", how="left_semi")
        .agg(F.count("*").cast("bigint").alias("deleted_rows_remaining"))
    )
    return (
        pre.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(after))
        .crossJoin(F.broadcast(rem))
        .select(
            "n_before",
            "n_deleted_users",
            "n_events_removed",
            "n_after",
            "deleted_rows_remaining",
        )
    )


register("user_erasure", q_user_erasure, """
        WITH e AS (
          SELECT user_id FROM events WHERE user_id IS NOT NULL
        ), dele AS (
          SELECT DISTINCT user_id FROM e WHERE user_id % 17 = 0
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_before,
               (SELECT CAST(count(*) AS BIGINT) FROM dele)
                 AS n_deleted_users,
               (SELECT CAST(count(*) AS BIGINT) FROM e
                WHERE user_id IN (SELECT user_id FROM dele))
                 AS n_events_removed,
               (SELECT CAST(count(*) AS BIGINT) FROM e
                WHERE user_id NOT IN (SELECT user_id FROM dele))
                 AS n_after,
               CAST(0 AS BIGINT) AS deleted_rows_remaining""")


def q_bitmap_setops(spark, sf_dir):
    """Bitmap-index set operations: the purchase and view user
    sets packed into 32-bit word bitmaps (word = id div 32, one
    bigint OR-aggregate per (set, word)), intersected and unioned
    by bitwise AND/OR + bit_count over a word-aligned full join —
    the roaring-bitmap pattern that turns distinct-set operations
    into integer ops, emitted NEXT TO the exact join-based counts
    so the row proves bitmap == exact.  Bits stay below 2^31 so
    no signed-overflow shift exists in either engine.

    The two distinct user sets build ONCE from a single events pass
    (one (type, user) distinct, checkpointed); the bitmap packing
    and the exact join/union counts are all projections of that
    checkpoint — previously each branch re-scanned events and
    re-ran its own distinct, four distincts for two sets."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    sets = (
        e.filter(F.col("event_type").isin("purchase", "view"))
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    pa = sets.filter(F.col("event_type") == "purchase").select("user_id")
    pv = sets.filter(F.col("event_type") == "view").select("user_id")

    def bitmap(dset):
        return (
            dset.select(
                F.floor(F.col("user_id") / 32).cast("bigint").alias("w"),
                (F.col("user_id") % 32).cast("int").alias("_b"),
            )
            .groupBy("w")
            .agg(
                F.bit_or(
                    F.expr("shiftleft(CAST(1 AS BIGINT), _b)")
                ).alias("word")
            )
        )

    ba = bitmap(pa).withColumnRenamed("word", "wa")
    bb = bitmap(pv).withColumnRenamed("word", "wb")
    j = ba.join(bb, on="w", how="full").select(
        F.coalesce(F.col("wa"), F.lit(0)).alias("wa"),
        F.coalesce(F.col("wb"), F.lit(0)).alias("wb"),
    )
    bm = j.agg(
        F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
        .cast("bigint")
        .alias("i_bitmap"),
        F.sum(F.bit_count(F.col("wa").bitwiseOR(F.col("wb"))))
        .cast("bigint")
        .alias("u_bitmap"),
    )
    ex = (
        pa.join(pv, on="user_id")
        .agg(F.count("*").cast("bigint").alias("i_exact"))
        .crossJoin(
            F.broadcast(
                pa.union(pv)
                .distinct()
                .agg(F.count("*").cast("bigint").alias("u_exact"))
            )
        )
    )
    return bm.crossJoin(F.broadcast(ex)).select(
        "i_bitmap", "i_exact", "u_bitmap", "u_exact"
    )


register("bitmap_setops", q_bitmap_setops, """
        WITH du AS (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE user_id IS NOT NULL
            AND event_type IN ('purchase', 'view')
        ), ba AS (
          SELECT user_id // 32 AS w,
                 CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))
                      AS BIGINT) AS wa
          FROM du WHERE event_type = 'purchase' GROUP BY 1
        ), bb AS (
          SELECT user_id // 32 AS w,
                 CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))
                      AS BIGINT) AS wb
          FROM du WHERE event_type = 'view' GROUP BY 1
        ), j AS (
          SELECT coalesce(wa, 0) AS wa, coalesce(wb, 0) AS wb
          FROM ba FULL JOIN bb ON bb.w = ba.w
        ), bm AS (
          SELECT CAST(sum(bit_count(wa & wb)) AS BIGINT) AS i_bitmap,
                 CAST(sum(bit_count(wa | wb)) AS BIGINT) AS u_bitmap
          FROM j
        ), ex AS (
          SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM (
               SELECT user_id FROM du WHERE event_type = 'purchase'
               INTERSECT
               SELECT user_id FROM du WHERE event_type = 'view')) AS i_exact,
            (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM du)
              AS u_exact
        )
        SELECT i_bitmap, i_exact, u_bitmap, u_exact
        FROM bm CROSS JOIN ex""")


def q_join_fanout_audit(spark, sf_dir):
    """Join-cardinality audit: per foreign-key edge of the schema,
    the key count, max fanout, and average fanout — the pre-join
    safety check that catches the accidental many-to-many before
    it explodes a 100-TB shuffle.  One count-aggregate per edge,
    unioned; all exact ints, one divide per row."""
    li = _t(spark, sf_dir, "lineitem")
    o2 = _t(spark, sf_dir, "orders")
    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())

    def fan(df, key, name):
        g = df.groupBy(key).agg(F.count("*").cast("bigint").alias("_f"))
        return g.agg(
            F.lit(name).alias("join_edge"),
            F.count("*").cast("bigint").alias("n_keys"),
            F.max("_f").cast("bigint").alias("max_fanout"),
            F.sum("_f").cast("bigint").alias("_rows"),
        )
    parts = [
        fan(li, "l_orderkey", "lineitem_per_order"),
        fan(li, "l_partkey", "lineitem_per_part"),
        fan(li, "l_suppkey", "lineitem_per_supplier"),
        fan(o2, "o_custkey", "orders_per_customer"),
        fan(ev, "user_id", "events_per_user"),
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.select(
        "join_edge",
        "n_keys",
        "max_fanout",
        F.round(
            F.col("_rows").cast("double") / F.col("n_keys").cast("double"),
            9,
        ).alias("avg_fanout"),
    )


register("join_fanout_audit", q_join_fanout_audit, """
        WITH arms AS (
          SELECT 'lineitem_per_order' AS join_edge, l_orderkey AS k
          FROM lineitem
          UNION ALL
          SELECT 'lineitem_per_part', l_partkey FROM lineitem
          UNION ALL
          SELECT 'lineitem_per_supplier', l_suppkey FROM lineitem
          UNION ALL
          SELECT 'orders_per_customer', o_custkey FROM orders
          UNION ALL
          SELECT 'events_per_user', user_id FROM events
          WHERE user_id IS NOT NULL
        ), g AS (
          SELECT join_edge, k, CAST(count(*) AS BIGINT) AS f
          FROM arms GROUP BY join_edge, k
        )
        SELECT join_edge,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(f) AS BIGINT) AS max_fanout,
               round(CAST(sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
                 AS avg_fanout
        FROM g GROUP BY join_edge""")


def q_session_gap_sweep(spark, sf_dir):
    """Session-gap sensitivity sweep: session counts at 5/15/30-
    minute inactivity thresholds from ONE pass over the per-user
    ordered deltas (a session count at gap g is users + deltas
    exceeding g — three conditional sums, no per-threshold
    re-scan and no data explosion).  All exact int64; the
    events-per-session ratios divide once.  The parameter-sweep
    shape tuning jobs use before fixing a sessionization gap."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = e.select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "_delta_us"
        ),
    )
    def sess(g_s):
        return (
            F.sum(
                (F.col("_delta_us") > g_s * 1000000)
                .cast("bigint")
            )
        )
    m = d.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_events"),
        sess(300).cast("bigint").alias("_b300"),
        sess(900).cast("bigint").alias("_b900"),
        sess(1800).cast("bigint").alias("_b1800"),
    )
    out = m.select(
        "n_users",
        "n_events",
        (F.col("n_users") + F.col("_b300")).alias("sessions_5m"),
        (F.col("n_users") + F.col("_b900")).alias("sessions_15m"),
        (F.col("n_users") + F.col("_b1800")).alias("sessions_30m"),
    )
    return out.select(
        "*",
        F.round(
            F.col("n_events").cast("double")
            / F.col("sessions_5m").cast("double"),
            9,
        ).alias("eps_5m"),
        F.round(
            F.col("n_events").cast("double")
            / F.col("sessions_30m").cast("double"),
            9,
        ).alias("eps_30m"),
    )


register("session_gap_sweep", q_session_gap_sweep, """
        WITH d AS (
          SELECT user_id,
                 epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 )) AS delta_us
          FROM events WHERE user_id IS NOT NULL
        ), m AS (
          SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CASE WHEN delta_us > 300000000 THEN 1 ELSE 0
                          END) AS BIGINT) AS b300,
                 CAST(sum(CASE WHEN delta_us > 900000000 THEN 1 ELSE 0
                          END) AS BIGINT) AS b900,
                 CAST(sum(CASE WHEN delta_us > 1800000000 THEN 1 ELSE 0
                          END) AS BIGINT) AS b1800
          FROM d
        )
        SELECT n_users, n_events,
               CAST(n_users + b300 AS BIGINT) AS sessions_5m,
               CAST(n_users + b900 AS BIGINT) AS sessions_15m,
               CAST(n_users + b1800 AS BIGINT) AS sessions_30m,
               round(CAST(n_events AS DOUBLE)
                     / CAST(n_users + b300 AS DOUBLE), 9) AS eps_5m,
               round(CAST(n_events AS DOUBLE)
                     / CAST(n_users + b1800 AS DOUBLE), 9) AS eps_30m
        FROM m""")


def q_churn_labels(spark, sf_dir):
    """Label engineering for churn modeling: per user, last active
    day, activity counts, and the churned flag (no event in the
    final week of the window) — the supervised-label table a churn
    model joins against rfm_features / ts_features.  One
    hash-partitioned aggregate, exact ints, deterministic
    boolean."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    day = (
        F.datediff(
            F.to_date(F.col("ts")), F.lit("2024-01-01").cast("date")
        )
        + 1
    ).cast("bigint")
    return e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max(day).cast("bigint").alias("last_day"),
        (F.max(day) < 24).alias("churned"),
    )


register("churn_labels", q_churn_labels, """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(date_diff('day', DATE '2024-01-01',
                                  CAST(ts AS DATE)) + 1) AS BIGINT)
                 AS last_day,
               max(date_diff('day', DATE '2024-01-01',
                             CAST(ts AS DATE)) + 1) < 24 AS churned
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id""")


def q_reset_running_sum(spark, sf_dir):
    """Running spend since the last purchase, per user — the
    conditional-reset cumulative window (segmented scan): segment
    id = cumulative purchase count (each purchase STARTS a new
    segment), running value = cumulative sum within (user,
    segment).  Two stacked windows over ONE user-keyed exchange
    (the second window partitions by a superset key with the same
    ordering, so no second shuffle).  Value terms quantize to exact
    cents before summing (no float accumulates across rows)."""
    e = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seg = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).over(w)
    d = e.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(cents, F.lit(0)).alias("_c"),
        seg.cast("bigint").alias("segment"),
    )
    w2 = W.partitionBy("user_id", "segment").orderBy("ts", "event_id")
    return d.select(
        "event_id",
        "user_id",
        "segment",
        F.sum("_c").over(w2).cast("bigint").alias("run_cents"),
    )


register("reset_running_sum", q_reset_running_sum, """
        WITH d AS (
          SELECT event_id, user_id, ts,
                 CAST(coalesce(CAST(round(value * 100) AS BIGINT), 0)
                      AS BIGINT) AS c,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS BIGINT) AS segment
          FROM events WHERE user_id IS NOT NULL
        )
        SELECT event_id, user_id, segment,
               CAST(sum(c) OVER (
                 PARTITION BY user_id, segment ORDER BY ts, event_id
               ) AS BIGINT) AS run_cents
        FROM d""")


def q_grouping_sets_revenue(spark, sf_dir):
    """Explicit GROUPING SETS — (flag, status), (flag), () — with
    GROUPING() flags distinguishing subtotal NULLs from data NULLs:
    the mixed-granularity report shape cube/rollup families don't
    pin (a cube emits all 4 sets; this emits exactly 3).  Revenue
    in exact 1e-4 units."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    li.select(
        "l_returnflag", "l_linestatus", rev.alias("_rev")
    ).createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
            SELECT l_returnflag, l_linestatus,
                   CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
                   CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
                   CAST(sum(_rev) AS BIGINT) AS rev_units,
                   count(*) AS n_lines
            FROM _gs_lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
            """
    )


register("grouping_sets_revenue", q_grouping_sets_revenue, """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_ls,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 10000) AS BIGINT)) AS BIGINT)
                 AS rev_units,
               count(*) AS n_lines
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())""")


def q_merge_partials(spark, sf_dir):
    """Two-level mergeable aggregation: daily partial aggregates
    (count / exact-unit sum / min / max) merged into monthly totals
    USING ONLY THE PARTIALS — the incremental-rollup contract every
    warehouse materialization relies on (merge(sum)=sum of sums,
    merge(min)=min of mins...).  The oracle aggregates the raw rows
    straight to months, so the gate proves the merge is lossless.
    Partial layer is a day-keyed map-side-combined aggregate; the
    merge shuffles only ~days rows."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    daily = li.groupBy(
        F.date_trunc("day", F.col("l_shipdate")).alias("_day")
    ).agg(
        F.count("*").cast("bigint").alias("_n"),
        F.sum(rev).cast("bigint").alias("_rev"),
        F.min(rev).cast("bigint").alias("_mn"),
        F.max(rev).cast("bigint").alias("_mx"),
    )
    return daily.groupBy(
        F.date_trunc("month", F.col("_day")).alias("month")
    ).agg(
        F.sum("_n").cast("bigint").alias("n_lines"),
        F.sum("_rev").cast("bigint").alias("rev_units"),
        F.min("_mn").cast("bigint").alias("min_units"),
        F.max("_mx").cast("bigint").alias("max_units"),
    )


# the oracle aggregates raw rows straight to months — equality with
# the Spark two-level partial merge proves the merge is lossless
register("merge_partials", q_merge_partials, """
        SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP)
                 AS month,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 10000) AS BIGINT)) AS BIGINT)
                 AS rev_units,
               CAST(min(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 10000) AS BIGINT)) AS BIGINT)
                 AS min_units,
               CAST(max(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 10000) AS BIGINT)) AS BIGINT)
                 AS max_units
        FROM lineitem
        GROUP BY 1""")


def q_incident_windows(spark, sf_dir):
    """Big-big interval range join via time bucketing (operators/
    relational.range_join_buckets): +/-30 min incident windows
    around high-value error events joined against ALL events with
    NO equi key — the case Spark's planner can only nested-loop,
    re-expressed as interval-to-bucket explosion (fan-out <= 3 at
    a 30-min bucket) + a plain hash equi-join on the bucket, each
    qualifying pair exactly once because a point owns exactly one
    bucket.  Blast-radius accounting per incident: exact event
    count + cents sum."""
    ev = _events(spark, sf_dir)
    half = 30 * 60 * 1_000_000
    inc = ev.filter(
        (F.col("event_type") == "error") & (F.col("value") >= 150.0)
    ).select(
        F.col("event_id").alias("incident_id"),
        (F.unix_micros("ts") - half).alias("lo"),
        (F.unix_micros("ts") + half).alias("hi"),
    )
    pts = ev.select(
        F.unix_micros("ts").alias("t"),
        F.round(F.col("value") * 100).cast("bigint").alias("_v"),
    )
    joined = rel.range_join_buckets(inc, pts, bucket=half)
    return joined.groupBy("incident_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("_v").cast("bigint").alias("sum_cents"),
    )


register("incident_windows", q_incident_windows, """
        WITH inc AS (
          SELECT event_id AS incident_id,
                 epoch_us(ts) - 1800000000 AS lo,
                 epoch_us(ts) + 1800000000 AS hi
          FROM events WHERE event_type = 'error' AND value >= 150.0
        ), pt AS (
          SELECT epoch_us(ts) AS t,
                 CAST(round(value * 100) AS BIGINT) AS v
          FROM events
        )
        SELECT incident_id, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(v) AS BIGINT) AS sum_cents
        FROM inc JOIN pt ON pt.t >= inc.lo AND pt.t < inc.hi
        GROUP BY incident_id
    """)


def q_peak_concurrency(spark, sf_dir):
    """Sweep-line peak concurrency: treat every event as a 30-min
    session [ts, ts+30m) and find, per event type, the maximum
    number of simultaneously-open sessions and the first instant
    it is reached — the classic +1/-1 boundary sweep (one union,
    one per-type cumulative window) instead of a quadratic
    interval self-join.  Ordering ties by (t, delta) puts closes
    before opens at the same instant (half-open semantics), and
    although the running sum is order-ambiguous WITHIN a tie
    group, the multiset of its values there is {base+1..base+g}
    (or the mirror for closes) under any order, so the (t, cum)
    row set — and hence the max and its first t — is
    deterministic."""
    dur = 30 * 60 * 1_000_000
    base = _events(spark, sf_dir).select(
        "event_type", F.unix_micros("ts").alias("_t0")
    )
    sweep = base.select(
        "event_type", F.col("_t0").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        base.select(
            "event_type",
            (F.col("_t0") + dur).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w = W.partitionBy("event_type").orderBy("t", "delta")
    cum = sweep.select(
        "event_type",
        "t",
        F.sum("delta")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum"),
    ).withColumn(
        "_pk",
        F.max("cum").over(
            W.partitionBy("event_type").rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ),
    )
    return (
        cum.filter(F.col("cum") == F.col("_pk"))
        .groupBy("event_type")
        .agg(
            F.max("cum").alias("peak"),
            F.min("t").alias("first_peak_t"),
        )
    )


register("peak_concurrency", q_peak_concurrency, """
        WITH base AS (
          SELECT event_type, epoch_us(ts) AS t0 FROM events
        ), sweep AS (
          SELECT event_type, t0 AS t, 1 AS delta FROM base
          UNION ALL
          SELECT event_type, t0 + 1800000000 AS t, -1 AS delta FROM base
        ), cum AS (
          SELECT event_type, t,
                 sum(delta) OVER (PARTITION BY event_type
                   ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM sweep
        ), pk AS (
          SELECT event_type, t, cum,
                 max(cum) OVER (PARTITION BY event_type) AS pk
          FROM cum
        )
        SELECT event_type, CAST(max(cum) AS BIGINT) AS peak,
               CAST(min(t) AS BIGINT) AS first_peak_t
        FROM pk WHERE cum = pk GROUP BY event_type
    """)


def q_hilbert_layout(spark, sf_dir):
    """Hilbert-curve layout key beside the Morton key for every
    occupied (p_partkey % 64, p_size % 64) cell (functions/scalar
    .with_hilbert_key) — the space-filling-curve pair behind
    OPTIMIZE ZORDER-style multi-dimensional clustering, emitted
    together so the locality advantage is auditable (consecutive
    Hilbert indices are always 4-adjacent cells, and rectangular
    range predicates touch ~40% fewer contiguous index runs than
    Morton — both pinned by pytests against a python
    reference).  Pure
    integer CASE/shift algebra per level, one projection per
    level, no UDF."""
    from openseize_spark.functions.scalar import (
        with_hilbert_key,
        zorder_key,
    )

    p = _t(spark, sf_dir, "part")
    cells = p.select(
        (F.col("p_partkey") % 64).cast("bigint").alias("x"),
        (F.col("p_size") % 64).cast("bigint").alias("y"),
    ).distinct()
    return with_hilbert_key(cells, "x", "y", bits=6, out="hd").select(
        "x",
        "y",
        "hd",
        zorder_key(F.col("x"), F.col("y"), bits=6).alias("zd"),
    )


register("hilbert_layout", q_hilbert_layout, lambda: f"""
        WITH {hilbert_ctes_sql(
            "SELECT DISTINCT CAST(p_partkey % 64 AS BIGINT) AS x, "
            "CAST(p_size % 64 AS BIGINT) AS y FROM part"
        )}
        SELECT x, y, hd, CAST({zorder_key_sql("x", "y", 6)} AS BIGINT) AS zd
        FROM hsteps
    """)


def q_bom_rollup(spark, sf_dir):
    """Hierarchical subtree rollup — the bill-of-materials /
    org-chart shape, i.e. the recursive-CTE capability Spark lacks
    natively: parts form a 4-ary tree via parent(k) = (k-1) div 4
    and every node needs its SUBTREE cost and node count.
    Expressed as the fixed-point iteration total_r(v) = own(v) +
    sum over children of total_{r-1}(child) — after depth rounds
    the totals are the exact subtree aggregates.  The round count
    is DERIVED, not fixed: one bounded scalar collect reads
    max(p_partkey) and the driver walks parent(k) to the root to
    get the exact tree depth (a fixed 12 rounds covers 4^12 ~ 16.7M
    keys, but TPC-H sf1000 has ~200M part keys, depth 14, and even
    make_sfN's stride-10M sf1 copies exceed 16.7M: the totals would
    silently stop short of convergence at those scales).  Deriving depth makes convergence unconditional
    at ANY corpus size — and cheaper at gate scale (6 rounds, not
    12).  One |V|-row hash join + aggregate per round, exact int64
    cents; the oracle is DuckDB's NATIVE WITH RECURSIVE ancestor
    closure — the engine-completeness contrast this query exists
    to pin.  Returns the top-of-tree rows (k < 64)."""
    p = _t(spark, sf_dir, "part")
    own = (
        p.select(
            F.col("p_partkey").cast("bigint").alias("k"),
            F.round(F.col("p_retailprice") * 100)
            .cast("bigint")
            .alias("own_cents"),
        )
        .localCheckpoint(eager=True)
    )
    edges = (
        own.filter(F.col("k") > 0)
        .select(
            F.col("k").alias("c"),
            F.expr("CAST((k - 1) DIV 4 AS BIGINT)").alias("parent"),
        )
        .localCheckpoint(eager=True)
    )
    total = own.select(
        "k",
        F.col("own_cents").alias("sub_cents"),
        F.lit(1).cast("bigint").alias("n_nodes"),
    )
    # exact tree depth of the deepest key: a single-scalar collect
    # (bounded control flow, house precedent) then an O(depth)
    # parent-walk in python ints — never trust a fixed headroom
    max_k = int(own.agg(F.max("k")).collect()[0][0] or 0)
    depth = 0
    while max_k > 0:
        max_k = (max_k - 1) // 4
        depth += 1
    for _ in range(depth):
        cs = (
            edges.join(total, edges.c == total.k)
            .groupBy("parent")
            .agg(
                F.sum("sub_cents").alias("_cs"),
                F.sum("n_nodes").alias("_cn"),
            )
        )
        total = (
            own.join(cs, own.k == cs.parent, "left")
            .select(
                "k",
                (
                    F.col("own_cents") + F.coalesce("_cs", F.lit(0))
                ).cast("bigint").alias("sub_cents"),
                (F.lit(1) + F.coalesce("_cn", F.lit(0)))
                .cast("bigint")
                .alias("n_nodes"),
            )
            .localCheckpoint(eager=False)
        )
    return total.filter(F.col("k") < 64).select(
        "k", "sub_cents", "n_nodes"
    )


register("bom_rollup", q_bom_rollup, """
        WITH RECURSIVE anc AS (
          SELECT p_partkey AS node, p_partkey AS a FROM part
          UNION ALL
          SELECT node, (a - 1) // 4 FROM anc WHERE a > 0
        ), own AS (
          SELECT p_partkey AS k,
                 CAST(round(p_retailprice * 100) AS BIGINT) AS own_cents
          FROM part
        )
        SELECT anc.a AS k,
               CAST(sum(own.own_cents) AS BIGINT) AS sub_cents,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM anc JOIN own ON own.k = anc.node
        WHERE anc.a < 64
        GROUP BY anc.a
    """)


def q_ancestor_chain(spark, sf_dir):
    """Path-to-root ancestor closure — the UPWARD direction of the
    recursive-CTE capability, pairing `bom_rollup`'s downward
    subtree rollup: the 5 most expensive
    parts (price DESC, key ASC tie-break) are seeds, and every
    ancestor on their chains to the root of the 4-ary tree
    parent(k) = (k-1) div 4 is returned with how many seed chains
    pass through it and its minimum distance from a seed.

    Spark shape — IN-list/semi-join, NOT iteration: the seed keys
    are a bounded 5-row collect, the full ancestor closure is a
    driver-side python parent-walk (<= 5 * depth keys, exact
    integer arithmetic), and the single distributed step is one
    broadcast hash join of the tiny chain table against part — at
    100 TB the ancestor key IN-list prunes partitions/row-groups
    at the scan, which is precisely why the ancestor direction
    does NOT need bom_rollup's per-level relaxation.  The oracle
    is DuckDB's native WITH RECURSIVE walking the same chains."""
    p = _t(spark, sf_dir, "part")
    seeds = [
        int(r.k)
        for r in p.select(
            F.col("p_partkey").cast("bigint").alias("k"),
            "p_retailprice",
        )
        .orderBy(F.col("p_retailprice").desc(), F.col("k"))
        .limit(5)
        .collect()
    ]
    # exact python closure: (ancestor k) -> [seed coverage, min depth]
    cover: dict[int, list] = {}
    for s in seeds:
        k, d = s, 0
        while k > 0:
            ent = cover.setdefault(k, [0, d])
            ent[0] += 1
            ent[1] = min(ent[1], d)
            k, d = (k - 1) // 4, d + 1
    chain = spark.createDataFrame(
        sorted((k, v[0], v[1]) for k, v in cover.items()),
        "k bigint, n_seeds bigint, min_depth bigint",
    )
    return p.join(
        F.broadcast(chain), p.p_partkey == chain.k
    ).select(
        "k",
        "n_seeds",
        "min_depth",
        F.round(F.col("p_retailprice") * 100)
        .cast("bigint")
        .alias("own_cents"),
    )


register("ancestor_chain", q_ancestor_chain, """
        WITH RECURSIVE seeds AS (
          SELECT p_partkey AS seed FROM part
          ORDER BY p_retailprice DESC, p_partkey LIMIT 5
        ), chain AS (
          SELECT seed, CAST(seed AS BIGINT) AS k,
                 CAST(0 AS BIGINT) AS depth
          FROM seeds
          UNION ALL
          SELECT seed, (k - 1) // 4, depth + 1
          FROM chain WHERE (k - 1) // 4 > 0
        ), agg AS (
          SELECT k, CAST(count(DISTINCT seed) AS BIGINT) AS n_seeds,
                 CAST(min(depth) AS BIGINT) AS min_depth
          FROM chain GROUP BY k
        )
        SELECT agg.k, agg.n_seeds, agg.min_depth,
               CAST(round(p_retailprice * 100) AS BIGINT) AS own_cents
        FROM agg JOIN part ON part.p_partkey = agg.k
    """)


def q_fastss_pairs(spark, sf_dir):
    """Edit-distance-1 identifier linkage (llm/text
    .fastss_ed1_pairs; Bocek et al. 2007): all customer-name pairs
    at Levenshtein distance exactly 1, found by a deletion-
    neighborhood EQUI-join — each name explodes to length+1
    deletion variants (bounded in-row fan-out), variant posting
    lists are bounded by the alphabet, and the exact levenshtein=1
    gate finishes.  The fuzzy-ID / typo record-linkage primitive;
    never all-pairs, unlike the brute-force oracle."""
    c = _t(spark, sf_dir, "customer")
    return llm_text.fastss_ed1_pairs(c, col="c_name")


register("fastss_pairs", q_fastss_pairs, lambda: llm_text.fastss_ed1_pairs_oracle_sql(
    table="customer", col="c_name"
))


def q_apriori_triples(spark, sf_dir):
    """Frequent 3-itemset mining with the a-priori prune (Agrawal
    & Srikant 1994): baskets are orders, items are part brands,
    and a brand triple is reported when its support clears 20
    basis points of all orders — after L1 (>= 1000 bp) restricts
    the basket stream and every 2-subset of a candidate triple is
    checked against L2 (>= 180 bp), the downward-closure prune
    that makes Apriori beat counting all C(|items|,3) triples.

    Scale shape: basket expansion is bounded in-row fan-out (an
    order has <= ~13 distinct brands, so <= C(13,2) pair and
    C(13,3) triple rows per order at ANY corpus size); supports
    are map-side-combinable counts; L1/L2 are tiny (<= |brands|^2)
    broadcast semi-joins; thresholds are exact integer
    basis-point arithmetic (support * 10000 >= bp * n_orders), no
    float compare."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("p_brand").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = ob.select("o").distinct().agg(
        F.count("*").cast("bigint").alias("_n")
    )
    s1 = ob.groupBy("b").agg(F.count("*").cast("bigint").alias("_c"))
    l1 = (
        s1.crossJoin(F.broadcast(n))
        .filter(F.col("_c") * 10000 >= 1000 * F.col("_n"))
        .select("b")
    )
    ob1 = ob.join(F.broadcast(l1), on="b").select("o", "b")
    ob1 = ob1.localCheckpoint(eager=False)  # 3 join consumers below
    pa = ob1.select("o", F.col("b").alias("b1"))
    pb = ob1.select("o", F.col("b").alias("b2"))
    pc = ob1.select("o", F.col("b").alias("b3"))
    p2 = pa.join(pb, on="o").filter(F.col("b1") < F.col("b2"))
    s2 = p2.groupBy("b1", "b2").agg(
        F.count("*").cast("bigint").alias("_c")
    )
    l2 = (
        s2.crossJoin(F.broadcast(n))
        .filter(F.col("_c") * 10000 >= 180 * F.col("_n"))
        .select("b1", "b2")
        .localCheckpoint(eager=False)  # 3 prune consumers below
    )
    t3 = (
        pa.join(pb, on="o")
        .filter(F.col("b1") < F.col("b2"))
        .join(pc, on="o")
        .filter(F.col("b2") < F.col("b3"))
    )
    t3p = (
        t3.join(F.broadcast(l2), on=["b1", "b2"])
        .join(
            F.broadcast(
                l2.select(
                    F.col("b1").alias("b1"),
                    F.col("b2").alias("b3"),
                )
            ),
            on=["b1", "b3"],
        )
        .join(
            F.broadcast(
                l2.select(
                    F.col("b1").alias("b2"),
                    F.col("b2").alias("b3"),
                )
            ),
            on=["b2", "b3"],
        )
    )
    s3 = t3p.groupBy("b1", "b2", "b3").agg(
        F.count("*").cast("bigint").alias("support")
    )
    return (
        s3.crossJoin(F.broadcast(n))
        .filter(F.col("support") * 10000 >= 20 * F.col("_n"))
        .select("b1", "b2", "b3", "support")
    )


register("apriori_triples", q_apriori_triples, """
        WITH ob AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS o, p_brand AS b
          FROM lineitem JOIN part ON p_partkey = l_partkey
        ), n AS (
          SELECT count(DISTINCT o) AS n FROM ob
        ), s1 AS (
          SELECT b, count(*) AS c FROM ob GROUP BY b
        ), l1 AS (
          SELECT b FROM s1, n WHERE c * 10000 >= 1000 * n.n
        ), ob1 AS MATERIALIZED (
          SELECT o, b FROM ob WHERE b IN (SELECT b FROM l1)
        ), p2 AS (
          SELECT a.o, a.b AS b1, bb.b AS b2
          FROM ob1 a JOIN ob1 bb ON a.o = bb.o AND a.b < bb.b
        ), s2 AS (
          SELECT b1, b2, count(*) AS c FROM p2 GROUP BY b1, b2
        ), l2 AS MATERIALIZED (
          SELECT b1, b2 FROM s2, n WHERE c * 10000 >= 180 * n.n
        ), t3 AS (
          SELECT a.o, a.b AS b1, bb.b AS b2, cc.b AS b3
          FROM ob1 a
          JOIN ob1 bb ON a.o = bb.o AND a.b < bb.b
          JOIN ob1 cc ON a.o = cc.o AND bb.b < cc.b
        ), t3p AS (
          SELECT t3.b1, t3.b2, t3.b3
          FROM t3
          JOIN l2 x ON x.b1 = t3.b1 AND x.b2 = t3.b2
          JOIN l2 y ON y.b1 = t3.b1 AND y.b2 = t3.b3
          JOIN l2 z ON z.b1 = t3.b2 AND z.b2 = t3.b3
        ), s3 AS (
          SELECT b1, b2, b3, CAST(count(*) AS BIGINT) AS support
          FROM t3p GROUP BY b1, b2, b3
        )
        SELECT b1, b2, b3, support
        FROM s3, n WHERE support * 10000 >= 20 * n.n
    """)


def q_assoc_rules(spark, sf_dir):
    """Association RULES over the apriori basket setting (Agrawal
    & Srikant 1994, the rule-generation phase apriori_triples
    stops short of): for every frequent brand pair (L1-pruned,
    support >= 180 bp of orders), emit both directed rules
    ante -> cons with confidence = supp(pair)/supp(ante) and
    lift = confidence * n / supp(cons).  Supports and thresholds
    are exact integer basis-point arithmetic; confidence and lift
    are mirrored IEEE chains quantized to integer nano-units —
    order-invariant and rankable without float compares."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    ob = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("p_brand").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = ob.select("o").distinct().agg(
        F.count("*").cast("bigint").alias("_n")
    )
    s1 = ob.groupBy("b").agg(
        F.count("*").cast("bigint").alias("_c")
    ).localCheckpoint(eager=False)  # L1 + two rule-side joins
    l1 = (
        s1.crossJoin(F.broadcast(n))
        .filter(F.col("_c") * 10000 >= 1000 * F.col("_n"))
        .select("b")
    )
    ob1 = ob.join(F.broadcast(l1), on="b").select("o", "b")
    ob1 = ob1.localCheckpoint(eager=False)
    p2 = (
        ob1.select("o", F.col("b").alias("b1"))
        .join(ob1.select("o", F.col("b").alias("b2")), on="o")
        .filter(F.col("b1") < F.col("b2"))
        .groupBy("b1", "b2")
        .agg(F.count("*").cast("bigint").alias("_cp"))
    )
    f2 = p2.crossJoin(F.broadcast(n)).filter(
        F.col("_cp") * 10000 >= 180 * F.col("_n")
    )
    rules = f2.select(
        F.col("b1").alias("ante"), F.col("b2").alias("cons"),
        "_cp", "_n",
    ).unionByName(
        f2.select(
            F.col("b2").alias("ante"), F.col("b1").alias("cons"),
            "_cp", "_n",
        )
    )
    ca = s1.select(F.col("b").alias("ante"), F.col("_c").alias("_ca"))
    cc = s1.select(F.col("b").alias("cons"), F.col("_c").alias("_cc"))
    conf = F.col("_cp").cast("double") / F.col("_ca").cast("double")
    lift = (
        conf * F.col("_n").cast("double") / F.col("_cc").cast("double")
    )
    return (
        rules.join(F.broadcast(ca), on="ante")
        .join(F.broadcast(cc), on="cons")
        .select(
            "ante",
            "cons",
            F.col("_cp").alias("support"),
            F.round(conf * F.lit(1e9)).cast("bigint").alias("conf_units"),
            F.round(lift * F.lit(1e9)).cast("bigint").alias("lift_units"),
        )
    )


register("assoc_rules", q_assoc_rules, """
        WITH ob AS MATERIALIZED (
          SELECT DISTINCT l_orderkey AS o, p_brand AS b
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), nn AS (
          SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM ob
        ), s1 AS MATERIALIZED (
          SELECT b, CAST(count(*) AS BIGINT) AS c FROM ob GROUP BY b
        ), l1 AS (
          SELECT b FROM s1, nn WHERE c * 10000 >= 1000 * nn.n
        ), ob1 AS MATERIALIZED (
          SELECT o, b FROM ob WHERE b IN (SELECT b FROM l1)
        ), p2 AS (
          SELECT a.b AS b1, x.b AS b2, CAST(count(*) AS BIGINT) AS cp
          FROM ob1 a JOIN ob1 x ON a.o = x.o AND a.b < x.b
          GROUP BY 1, 2
        ), f2 AS (
          SELECT b1, b2, cp FROM p2, nn WHERE cp * 10000 >= 180 * nn.n
        ), rules AS (
          SELECT b1 AS ante, b2 AS cons, cp FROM f2
          UNION ALL
          SELECT b2 AS ante, b1 AS cons, cp FROM f2
        )
        SELECT r.ante, r.cons, r.cp AS support,
               CAST(round((CAST(r.cp AS DOUBLE) / CAST(sa.c AS DOUBLE))
                          * 1e9) AS BIGINT) AS conf_units,
               CAST(round((CAST(r.cp AS DOUBLE) / CAST(sa.c AS DOUBLE))
                          * CAST(nn.n AS DOUBLE) / CAST(sc.c AS DOUBLE)
                          * 1e9) AS BIGINT) AS lift_units
        FROM rules r
        JOIN s1 sa ON sa.b = r.ante
        JOIN s1 sc ON sc.b = r.cons
        CROSS JOIN nn
    """)


def q_seq_rules(spark, sf_dir):
    """Sequential-pattern rules a→b over per-user event streams
    (the length-2 PrefixSpan/GSP case, Srikant & Agrawal 1996) —
    the SEQUENTIAL complement to assoc_rules' unordered baskets:
    a user supports a→b iff some occurrence of type a precedes
    some occurrence of type b in their (ts, event_id)-ordered
    stream, which reduces to first_pos(a) < last_pos(b) — so the
    whole search needs only the per-(user, type) min/max position
    table.  Confidence = supp(a→b)/supp(a) is quantized to
    integer nano-units (division-derived — IEEE-identical both
    engines, ties round half-away identically).

    Scale shape: one window ranks each user's stream; the
    per-(user, type) aggregate is bounded at (#types) rows per
    user; the within-user type-pair self-join fans out at most
    #types² per user (≤25 here); supports aggregate with partial
    combine on the tiny (a, b) key space.  No collect, no UDF.
    Returns (ante, cons, n_seq, n_ante, conf_units)."""
    e = _events(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pos = e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("_p"),
    )
    ut = pos.groupBy("user_id", "event_type").agg(
        F.min("_p").alias("_first"),
        F.max("_p").alias("_last"),
    )
    a = ut.select(
        "user_id",
        F.col("event_type").alias("ante"),
        F.col("_first").alias("_fa"),
    )
    b = ut.select(
        "user_id",
        F.col("event_type").alias("cons"),
        F.col("_last").alias("_lb"),
    )
    seq = (
        a.join(b, on="user_id")
        .filter(
            (F.col("ante") != F.col("cons"))
            & (F.col("_fa") < F.col("_lb"))
        )
        .groupBy("ante", "cons")
        .agg(F.count("*").cast("bigint").alias("n_seq"))
    )
    supp = ut.groupBy(F.col("event_type").alias("ante")).agg(
        F.count("*").cast("bigint").alias("n_ante")
    )
    return seq.join(F.broadcast(supp), on="ante").select(
        "ante",
        "cons",
        "n_seq",
        "n_ante",
        F.round(
            F.lit(1e9)
            * (
                F.col("n_seq").cast("double")
                / F.col("n_ante").cast("double")
            )
        )
        .cast("bigint")
        .alias("conf_units"),
    )


register("seq_rules", q_seq_rules, """
        WITH pos AS (
          SELECT user_id, event_type,
                 row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS p
          FROM events
        ), ut AS MATERIALIZED (
          SELECT user_id, event_type,
                 min(p) AS first_p, max(p) AS last_p
          FROM pos GROUP BY 1, 2
        ), seq AS (
          SELECT a.event_type AS ante, b.event_type AS cons,
                 CAST(count(*) AS BIGINT) AS n_seq
          FROM ut a JOIN ut b ON a.user_id = b.user_id
          WHERE a.event_type != b.event_type
            AND a.first_p < b.last_p
          GROUP BY 1, 2
        ), supp AS (
          SELECT event_type AS ante, CAST(count(*) AS BIGINT) AS n_ante
          FROM ut GROUP BY 1
        )
        SELECT ante, cons, n_seq, n_ante,
               CAST(round(1e9 * (CAST(n_seq AS DOUBLE)
                                 / CAST(n_ante AS DOUBLE)))
                    AS BIGINT) AS conf_units
        FROM seq JOIN supp USING (ante)
    """)

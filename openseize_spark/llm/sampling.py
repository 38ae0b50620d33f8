"""Deterministic sampling / splitting / shuffling for training corpora.

Every operator keys off a *portable salted hash* — the first 8 hex digits
of md5(seed || key) parsed as an unsigned 32-bit integer — so (a) results
are reproducible across runs, engines, cluster sizes, and partitionings
(nothing depends on Spark's task layout or RNG), and (b) every query is
replayable in ANSI SQL for the DuckDB oracle gate.

Scale notes (100 TB):
- ``bernoulli_sample`` / ``split_assign`` are pure codegen projections +
  filters: no shuffle, pushdown-friendly, cost = one md5 per row.
- ``stratified_sample`` shuffles once on the stratum key (the per-group
  top-k-by-hash window sees only its group).
- ``corpus_shuffle`` produces a *global* deterministic permutation
  without a single-partition window: rows get a hash bucket (bounded
  cardinality), positions are row_number within bucket plus a broadcast
  cumulative bucket-offset table — the classic two-level zipWithIndex,
  all declarative, no driver action.

Reference parity: the reference exposes no sampler (its producers are
deterministic scans); these are the LLM-pipeline extensions the task
brief asks for, shaped like the samplers in public corpus pipelines
(C4/Gopher/RefinedWeb reservoir & hash splits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HASH_SPACE = 1 << 32  # md5-prefix hash range [0, 2^32)


def salted_hash(col, seed: str):
    """Portable 32-bit salted hash: uniform on [0, 2^32), identical in
    Spark and DuckDB (``('0x' || substr(md5(...),1,8))::BIGINT``)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")


def salted_hash_sql(expr: str, seed: str) -> str:
    """DuckDB replay of :func:`salted_hash` for oracle SQL."""
    return (
        f"(('0x' || substr(md5('{seed}:' || CAST({expr} AS VARCHAR)), 1, 8))::BIGINT)"
    )


def bernoulli_sample(
    df: DataFrame, rate: float, key_col: str = "doc_id", seed: str = "s0"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose salted key hash
    falls below ``rate`` of the hash space.  Exactly reproducible and
    stable under re-partitioning (unlike ``df.sample``, whose output
    depends on task split layout)."""
    cut = int(rate * HASH_SPACE)
    return df.filter(salted_hash(F.col(key_col), seed) < cut)


def split_assign(
    df: DataFrame,
    fracs: dict[str, float],
    key_col: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Assign each row to a named split (train/val/test...) by hash range.

    ``fracs`` maps split name -> fraction; fractions must sum to <= 1 and
    any remainder falls in the *last* split.  A pure projection — rows
    never move, and a document keeps its split forever even as the corpus
    grows (the property hash-splits are chosen for)."""
    h = salted_hash(F.col(key_col), seed)
    names = list(fracs)
    edges = []
    acc = 0.0
    for name in names[:-1]:
        acc += fracs[name]
        edges.append((name, int(acc * HASH_SPACE)))
    expr = F.lit(names[-1])
    for name, edge in reversed(edges):
        expr = F.when(h < edge, name).otherwise(expr)
    return df.withColumn("split", expr)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, int],
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Data-mixture realization: down-sample each group so the kept
    corpus matches integer target ``weights`` (kept_g ∝ w_g in
    expectation) while using as much data as possible — the per-source
    blending step of a training-data recipe (e.g. "web 70 / code 20 /
    books 10").  Groups absent from ``weights`` are dropped.

    The limiting group m minimizes n_g / w_g (it is kept whole); every
    other group keeps the rational fraction (w_g * n_m) / (w_m * n_g).
    Membership is the salted-hash cut evaluated in EXACT integer
    arithmetic — keep iff h * w_m * n_g < w_g * n_m * 2^32, computed in
    DECIMAL(38,0) (HUGEINT in the oracle) so no float rounding can flip
    a row at any corpus size.  The argmin ratio n_g/w_g is a single
    IEEE division (bit-identical across engines), tie-broken on the
    group name.

    Scale shape: one count aggregate over the group key (tiny result),
    a broadcast one-row limiting-group table, and a broadcast rate-table
    join — the corpus itself never shuffles; the filter is a codegen
    projection.  Adds ``keep_rate``.
    """
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty map of positive ints")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(g, int(w)) for g, w in weights.items()], f"{group_col} string, _w bigint"
    )
    counts = (
        df.groupBy(group_col)
        .agg(F.count("*").alias("_n"))
        .join(F.broadcast(wdf), on=group_col)
    )
    lim = counts.agg(
        F.min(
            F.struct(
                (F.col("_n").cast("double") / F.col("_w")).alias("r"),
                F.col(group_col).alias("g"),
                F.col("_n").alias("nm"),
                F.col("_w").alias("wm"),
            )
        ).alias("_m")
    ).select(F.col("_m.nm").alias("_nm"), F.col("_m.wm").alias("_wm"))
    dec = "decimal(38,0)"
    rates = counts.crossJoin(F.broadcast(lim)).select(
        group_col,
        "_n",
        "_w",
        "_nm",
        "_wm",
        (
            (F.col("_w") * F.col("_nm")).cast("double")
            / (F.col("_wm") * F.col("_n")).cast("double")
        ).alias("keep_rate"),
    )
    h = salted_hash(F.col(key_col), seed)
    return (
        df.join(F.broadcast(rates), on=group_col)
        .filter(
            h.cast(dec) * (F.col("_wm") * F.col("_n")).cast(dec)
            < (F.col("_w") * F.col("_nm")).cast(dec) * F.lit(HASH_SPACE).cast(dec)
        )
        .drop("_n", "_w", "_nm", "_wm")
    )


def mixture_sample_oracle_sql(
    weights: dict[str, int],
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "mix",
    select_cols: str = "d.doc_id, d.source",
) -> str:
    """DuckDB replay of :func:`mixture_sample`: same counts, same
    single-division ratio argmin, same HUGEINT-exact membership cut."""
    h = salted_hash_sql(f"d.{key_col}", seed)
    vals = ", ".join(f"('{g}', {int(w)})" for g, w in weights.items())
    return f"""
        WITH wt({group_col}, w) AS (VALUES {vals}),
        cnt AS (
          SELECT d.{group_col}, CAST(count(*) AS BIGINT) AS n, CAST(w AS BIGINT) AS w
          FROM documents d JOIN wt USING ({group_col})
          GROUP BY d.{group_col}, w
        ), lim AS (
          SELECT n AS nm, w AS wm FROM cnt
          ORDER BY CAST(n AS DOUBLE) / w, {group_col} LIMIT 1
        ), rates AS (
          SELECT cnt.{group_col}, n, w, nm, wm,
                 CAST(w * nm AS DOUBLE) / CAST(wm * n AS DOUBLE) AS keep_rate
          FROM cnt CROSS JOIN lim
        )
        SELECT {select_cols}, r.keep_rate
        FROM documents d JOIN rates r USING ({group_col})
        WHERE CAST({h} AS HUGEINT) * CAST(r.wm * r.n AS HUGEINT)
            < CAST(r.w * r.nm AS HUGEINT) * CAST({1 << 32} AS HUGEINT)"""


def stratified_sample(
    df: DataFrame,
    group_col: str = "source",
    k: int = 10,
    key_col: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sample: the k rows with the smallest
    salted hash in each group (a reproducible stand-in for per-group
    reservoir sampling).  One shuffle on the stratum key; ties broken by
    the key itself so the output is a pure function of the data."""
    h = salted_hash(F.col(key_col), seed)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _bucket_offsets(counts: DataFrame, cnt_col: str = "_cnt") -> DataFrame:
    """Exclusive prefix sum over the bounded per-bucket count table.

    ``counts`` has at most ``num_buckets`` (<= 1024) rows of two ints —
    bytes of data.  Materializing it on the driver is bounded control
    flow (same category as k-means centroids): the corpus aggregate
    executes exactly once, nothing needs ``persist()`` for a second
    join-side read (round-4 leaked those cached partitions across long
    sessions), and the O(B^2) broadcast inequality self-join becomes a
    linear driver-side cumulative sum.  The result is re-broadcast as a
    literal table for the position join."""
    spark = counts.sparkSession
    rows = sorted(counts.collect(), key=lambda r: r["_bkt"])
    data, acc = [], 0
    for r in rows:
        data.append((r["_bkt"], acc))
        acc += r[cnt_col] or 0
    return spark.createDataFrame(data, "_bkt bigint, _off bigint")


def corpus_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "shuf",
    num_buckets: int = 1024,
) -> DataFrame:
    """Deterministic global permutation of the corpus (training-order
    shuffle): adds ``shuffle_pos`` = the row's rank under the salted key
    hash (ties by key).

    Two-level rank so no window ever sees more than ~n/num_buckets rows:
    row_number within a hash bucket + a cumulative-count offset per
    bucket (num_buckets rows, broadcast).  The bucket is a *range* bucket
    (high bits of the hash), so bucket-major order equals global hash
    order.  At 100 TB this is one shuffle on the bucket id; the offset
    table is bytes."""
    h = salted_hash(F.col(key_col), seed)
    bucket = F.floor(h / (HASH_SPACE // num_buckets)).alias("_bkt")
    rows = df.withColumn("_h", h).withColumn("_bkt", bucket)
    wb = Window.partitionBy("_bkt").orderBy(F.col("_h").asc(), F.col(key_col).asc())
    rows = rows.withColumn("_rn", F.row_number().over(wb))
    # Cumulative bucket offsets WITHOUT a global (SinglePartition)
    # window: one bounded aggregate job, exclusive prefix sum on the
    # driver (<= num_buckets rows), re-broadcast as a literal table.
    counts = rows.groupBy("_bkt").agg(F.count("*").alias("_cnt"))
    offsets = _bucket_offsets(counts)
    return (
        rows.join(F.broadcast(offsets), on="_bkt")
        .withColumn("shuffle_pos", (F.col("_off") + F.col("_rn") - 1).cast("bigint"))
        .drop("_bkt", "_h", "_rn", "_off")
    )


def shard_assign(
    df: DataFrame,
    rows_per_shard: int,
    key_col: str = "doc_id",
    seed: str = "shard",
    num_buckets: int = 1024,
) -> DataFrame:
    """Deterministic training-shard assignment (WebDataset/TFRecord
    style): documents in hash-shuffled order are cut into shards of
    ``rows_per_shard``; adds ``shard_id`` (= shuffle_pos div size) and
    ``shard_pos`` (position within the shard).  A writer then
    ``partitionBy("shard_id")`` for balanced output files — the missing
    step between a shuffled corpus and a shard layout on object
    storage.  Same two-level rank machinery as :func:`corpus_shuffle`
    (one shuffle on the hash bucket + broadcast offsets); assignment is
    a pure function of the data, stable under any partitioning."""
    if rows_per_shard <= 0:
        raise ValueError("rows_per_shard must be > 0")
    out = corpus_shuffle(df, key_col=key_col, seed=seed, num_buckets=num_buckets)
    return out.withColumn(
        "shard_id", F.expr(f"shuffle_pos div {rows_per_shard}").cast("bigint")
    ).withColumn(
        "shard_pos", (F.col("shuffle_pos") % rows_per_shard).cast("bigint")
    )


def write_shards(
    df: DataFrame,
    path: str,
    rows_per_shard: int,
    key_col: str = "doc_id",
    seed: str = "shard",
) -> None:
    """Materialize :func:`shard_assign` as a balanced shard layout:
    one parquet directory per shard_id, each holding exactly
    ``rows_per_shard`` rows (the last shard may be short) — the
    WebDataset-style output step of a training-data pipeline.

    ``repartition(shard_id)`` before ``partitionBy`` so each shard is
    written by one task as one file (without it, every task writes a
    sliver of every shard and a 10k-shard corpus produces millions of
    small files — the classic object-store pathology).  At 100 TB pair
    with ``spark.sql.files.maxRecordsPerFile`` if shards must split.
    """
    out = shard_assign(df, rows_per_shard, key_col=key_col, seed=seed)
    (
        out.repartition(F.col("shard_id"))
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def pack_sequences(
    df: DataFrame,
    capacity: int,
    token_col: str = "n_tokens",
    key_col: str = "doc_id",
    seed: str = "pack",
    num_buckets: int = 1024,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in deterministic
    shuffled order and cut every ``capacity`` tokens.  Adds

    - ``tok_offset``: the document's first token's position in the
      global concatenated token stream;
    - ``seq_id``: tok_offset div capacity — the training sequence this
      document starts in;
    - ``seq_offset``: tok_offset % capacity — where in that sequence.

    Documents may straddle sequence boundaries (the concat-and-chunk
    regime); a loader derives the spans from (seq_id, seq_offset,
    n_tokens).  All arithmetic is integer-exact.

    Scale shape (100 TB): the global token-prefix sum uses the same
    two-level trick as :func:`corpus_shuffle` — per-bucket cumulative
    sums plus a broadcast bucket-offset table — so no window ever sees
    more than ~n/num_buckets rows and the plan has one shuffle on the
    bucket id plus one broadcast join."""
    h = salted_hash(F.col(key_col), seed)
    bucket = F.floor(h / (HASH_SPACE // num_buckets)).alias("_bkt")
    rows = df.withColumn("_h", h).withColumn("_bkt", bucket)
    wb = (
        Window.partitionBy("_bkt")
        .orderBy(F.col("_h").asc(), F.col(key_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rows = rows.withColumn(
        "_pre", F.coalesce(F.sum(token_col).over(wb), F.lit(0)).cast("bigint")
    )
    counts = rows.groupBy("_bkt").agg(
        F.sum(token_col).cast("bigint").alias("_cnt")
    )
    offsets = _bucket_offsets(counts)
    out = (
        rows.join(F.broadcast(offsets), on="_bkt")
        .withColumn("tok_offset", (F.col("_off") + F.col("_pre")).cast("bigint"))
        .withColumn("seq_id", F.expr(f"tok_offset div {capacity}").cast("bigint"))
        .withColumn("seq_offset", (F.col("tok_offset") % capacity).cast("bigint"))
        .drop("_bkt", "_h", "_pre", "_off")
    )
    return out


def token_budget_subset(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    key_col: str = "doc_id",
    seed: str = "budget",
    num_buckets: int = 1024,
) -> DataFrame:
    """Deterministic token-budget subset ("give me a 10B-token slice"):
    documents in hash-shuffled order are kept while the running token
    total stays under ``budget`` — a document is included iff its
    starting offset in the concatenated stream is below the budget
    (concat-and-cut inclusion: the last kept document may straddle the
    boundary; trim downstream if exact budgets matter).  Same two-level
    integer prefix sum as :func:`pack_sequences`; membership is a pure
    function of the data."""
    if budget <= 0:
        raise ValueError("budget must be > 0")
    packed = pack_sequences(
        df,
        capacity=budget,
        token_col=token_col,
        key_col=key_col,
        seed=seed,
        num_buckets=num_buckets,
    )
    return packed.filter(F.col("tok_offset") < budget).drop(
        "seq_id", "seq_offset"
    )


def temperature_sample(
    df: DataFrame,
    temperature: float = 2.0,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "temp",
) -> DataFrame:
    """Temperature-based source rebalancing (multilingual-training style):
    target share q_s ∝ p_s^(1/T), realized by pure down-sampling with
    per-source keep rate r_s ∝ n_s^(1/T - 1), normalized so the largest
    rate is 1.  T > 1 flattens the source distribution toward uniform;
    T = 1 keeps everything.

    Deterministic per-document decision: salted hash < r_s · 2^32, so
    membership is a pure function of (doc_id, source sizes) — stable
    under re-partitioning and re-runs.  The rate table is one row per
    source (broadcast); the filter is a codegen projection.  Adds
    ``keep_rate``.

    The rate is quantized to 9 decimals *before* the integer cut is
    derived (identically in the SQL oracle), so a 1-ulp libm/Math.pow
    divergence between engines can no longer straddle the floor boundary
    and flip a document's membership; the cut itself is then pure
    integer arithmetic — rate_nano * 2^32 div 1e9 on exact int64s — so
    no float product sits in front of the final floor either.  The
    residual risk is only the round-half boundary of the one
    quantization (~1e-7 per source, the irreducible float->int seam of
    a fractional power)."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    expo = 1.0 / temperature - 1.0
    counts = df.groupBy(group_col).agg(F.count("*").alias("_n"))
    wmax = counts.agg(F.max(F.pow(F.col("_n"), expo)).alias("_wm"))
    rate = F.round(F.pow(F.col("_n"), expo) / F.col("_wm"), 9)
    rates = (
        counts.crossJoin(F.broadcast(wmax))
        .select(group_col, rate.alias("keep_rate"))
        .select(
            group_col,
            "keep_rate",
            F.expr(
                f"CAST((CAST(round(keep_rate * 1e9) AS BIGINT)"
                f" * {HASH_SPACE}) DIV 1000000000 AS BIGINT)"
            ).alias("_cut"),
        )
    )
    h = salted_hash(F.col(key_col), seed)
    return (
        df.join(F.broadcast(rates), on=group_col)
        .filter(h < F.col("_cut"))
        .drop("_cut")
    )


def dsir_sample(
    df: DataFrame,
    n_keep: int = 100,
    target_col: str = "lang",
    target_val: str = "zh",
    num_buckets: int = 64,
    key_col: str = "doc_id",
    text_col: str = "text",
    seed: str = "dsir",
    round_digits: int = 9,
) -> DataFrame:
    """DSIR-style data selection via importance resampling (Xie et al.
    2023, "Data Selection for Language Models via Importance Resampling"):
    score each document by the log importance ratio of a *target* domain
    over the raw corpus under hashed n-gram (here: hashed unigram)
    feature distributions, then draw ``n_keep`` documents without
    replacement with the Gumbel-top-k trick — documents that look like
    the target domain are exponentially more likely to survive.

    Feature space: words hash-bucketed into ``num_buckets`` cells (the
    paper's hashed n-gram trick — bounded distributions regardless of
    vocabulary size).  Both the raw and the target bucket distributions
    get add-one smoothing.  The target domain is the sub-corpus where
    ``target_col == target_val``.

    Determinism discipline: the per-bucket log-ratio and the per-doc
    Gumbel noise (derived from the salted doc hash, not an RNG) are
    quantized to integer 10^-round_digits units, so the per-doc weighted
    sum is exact int64 arithmetic and the Gumbel-perturbed ranking key
    ``round(score_units / n_tokens) + gumbel_units`` cannot be reordered
    by float summation; ties break on the doc id.

    Scale shape: the two distributions are ``num_buckets``-row aggregates
    (map-side combine bounds every shuffle); the log-ratio table rides a
    broadcast join; per-doc bucket counts partial-aggregate to at most
    ``num_buckets`` rows per doc; selection is
    ``orderBy().limit(n_keep)`` — TakeOrderedAndProject, per-partition
    top-k, never a global sort.  No UDFs, no collects.

    Returns (id, n_tokens, score) for the ``n_keep`` sampled documents,
    where score is the mean per-token log importance ratio.
    """
    from openseize_spark.llm.text import _token_rows

    scale = float(10**round_digits)
    B = int(num_buckets)
    toks = _token_rows(
        df,
        text_col,
        "_w",
        F.col(key_col).alias("_id"),
        F.col(target_col).alias("_tgt"),
    )
    tb = toks.select(
        "_id",
        "_tgt",
        (salted_hash(F.col("_w"), seed + ":feat") % B).alias("_b"),
    )
    # aggregate ONCE off the token stream, then derive all three
    # consumers from the bounded (doc x bucket) table — without this the
    # corpus explode re-runs per consumer (pruned schemas defeat
    # ReuseExchange), and persisting the raw token stream instead would
    # cache terabytes at scale
    base = (
        tb.groupBy("_id", "_tgt", "_b")
        .agg(F.count("*").alias("_k"))
        .localCheckpoint(eager=False)
    )
    doc_b = base.groupBy("_id", "_b").agg(F.sum("_k").alias("_k"))
    raw = base.groupBy("_b").agg(F.sum("_k").alias("_cr"))
    tgt = (
        base.filter(F.col("_tgt") == target_val)
        .groupBy("_b")
        .agg(F.sum("_k").alias("_ct"))
    )
    raw_tot = raw.agg(F.sum("_cr").alias("_rt"))
    tgt_tot = tgt.agg(F.sum("_ct").alias("_tt"))
    # identical float expression shape in the SQL oracle: two divisions,
    # one quotient, one ln — every intermediate is IEEE-identical
    ratio = (
        (F.col("_ct") + 1).cast("double") / (F.col("_tt") + B).cast("double")
    ) / ((F.col("_cr") + 1).cast("double") / (F.col("_rt") + B).cast("double"))
    lr = (
        raw.join(tgt, on="_b", how="left")
        .na.fill({"_ct": 0})
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "_b", F.round(F.log(ratio) * scale, 0).cast("bigint").alias("_lr")
        )
    )
    scored = (
        doc_b.join(F.broadcast(lr), on="_b")
        .groupBy("_id")
        .agg(
            F.sum("_k").cast("bigint").alias("n_tokens"),
            F.sum(F.col("_k") * F.col("_lr")).cast("bigint").alias("_su"),
        )
    )
    h = salted_hash(F.col("_id"), seed)
    u = (h.cast("double") + 0.5) / float(HASH_SPACE)
    g_units = F.round(-F.log(-F.log(u)) * scale, 0).cast("bigint")
    keyed = scored.select(
        "_id",
        "n_tokens",
        "_su",
        (
            F.round(F.col("_su").cast("double") / F.col("n_tokens"), 0).cast(
                "bigint"
            )
            + g_units
        ).alias("_key"),
    )
    return (
        keyed.orderBy(F.desc("_key"), F.asc("_id"))
        .limit(n_keep)
        .select(
            F.col("_id").alias(key_col),
            "n_tokens",
            (
                F.col("_su").cast("double") / (F.lit(scale) * F.col("n_tokens"))
            ).alias("score"),
        )
    )


def dsir_sample_oracle_sql(
    n_keep: int = 100,
    target_col: str = "lang",
    target_val: str = "zh",
    num_buckets: int = 64,
    seed: str = "dsir",
    round_digits: int = 9,
) -> str:
    """DuckDB replay of :func:`dsir_sample` (identical quantization,
    float expression shape, and tie-break)."""
    from openseize_spark.llm.text import _token_rows_sql

    scale = float(10**round_digits)
    B = int(num_buckets)
    hw = salted_hash_sql("w", seed + ":feat")
    hd = salted_hash_sql("_id", seed)
    target_val = target_val.replace("'", "''")
    return f"""
        WITH toks AS (
          SELECT doc_id AS _id, {target_col} AS _tgt,
                 ({hw}) % {B} AS _b
          FROM ({_token_rows_sql(f"doc_id, {target_col}")})
        ), doc_b AS (
          SELECT _id, _b, count(*) AS k FROM toks GROUP BY _id, _b
        ), raw AS (
          SELECT _b, count(*) AS cr FROM toks GROUP BY _b
        ), tgt AS (
          SELECT _b, count(*) AS ct FROM toks WHERE _tgt = '{target_val}'
          GROUP BY _b
        ), rt AS (SELECT sum(cr) AS rt FROM raw),
        tt AS (SELECT sum(ct) AS tt FROM tgt),
        lr AS (
          SELECT raw._b,
                 CAST(round(ln(
                   (CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                      / CAST(tt.tt + {B} AS DOUBLE))
                   / (CAST(raw.cr + 1 AS DOUBLE)
                      / CAST(rt.rt + {B} AS DOUBLE))
                 ) * {scale}) AS BIGINT) AS lr
          FROM raw LEFT JOIN tgt ON raw._b = tgt._b
          CROSS JOIN rt CROSS JOIN tt
        ), scored AS (
          SELECT doc_b._id,
                 CAST(sum(doc_b.k) AS BIGINT) AS n_tokens,
                 CAST(sum(doc_b.k * lr.lr) AS BIGINT) AS su
          FROM doc_b JOIN lr ON doc_b._b = lr._b
          GROUP BY doc_b._id
        ), keyed AS (
          SELECT _id, n_tokens, su,
                 CAST(round(CAST(su AS DOUBLE) / n_tokens) AS BIGINT)
                   + CAST(round(-ln(-ln(
                       (CAST({hd} AS DOUBLE) + 0.5) / {float(HASH_SPACE)!r}
                     )) * {scale}) AS BIGINT) AS key
          FROM scored
        )
        SELECT _id AS doc_id, n_tokens,
               CAST(su AS DOUBLE) / ({scale} * n_tokens) AS score
        FROM keyed
        ORDER BY key DESC, _id ASC
        LIMIT {n_keep}"""


# ------------------------------------------------------------ oracle SQL


def bernoulli_sample_oracle_sql(rate: float, seed: str = "s0") -> str:
    cut = int(rate * HASH_SPACE)
    h = salted_hash_sql("doc_id", seed)
    return f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents WHERE {h} < {cut}"""


def split_assign_oracle_sql(fracs: dict[str, float], seed: str = "split") -> str:
    h = salted_hash_sql("doc_id", seed)
    names = list(fracs)
    acc = 0.0
    arms = []
    for name in names[:-1]:
        acc += fracs[name]
        arms.append(f"WHEN {h} < {int(acc * HASH_SPACE)} THEN '{name}'")
    case = "CASE " + " ".join(arms) + f" ELSE '{names[-1]}' END"
    return f"""
        SELECT split, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM (SELECT n_chars, {case} AS split FROM documents)
        GROUP BY split"""


def stratified_sample_oracle_sql(
    group_col: str = "source", k: int = 10, seed: str = "strat"
) -> str:
    h = salted_hash_sql("doc_id", seed)
    return f"""
        SELECT doc_id, lang, source
        FROM (
          SELECT doc_id, lang, source,
                 row_number() OVER (PARTITION BY {group_col}
                                    ORDER BY {h} ASC, doc_id ASC) AS rn
          FROM documents
        ) WHERE rn <= {k}"""


def corpus_shuffle_oracle_sql(seed: str = "shuf") -> str:
    h = salted_hash_sql("doc_id", seed)
    return f"""
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY {h} ASC, doc_id ASC) - 1 AS BIGINT)
                 AS shuffle_pos
        FROM documents"""


def shard_assign_oracle_sql(rows_per_shard: int, seed: str = "shard") -> str:
    """Per-shard summary replay of :func:`shard_assign` (all-integer)."""
    h = salted_hash_sql("doc_id", seed)
    return f"""
        WITH pos AS (
          SELECT doc_id, n_chars,
                 row_number() OVER (ORDER BY {h} ASC, doc_id ASC) - 1 AS p
          FROM documents
        )
        SELECT CAST(p // {rows_per_shard} AS BIGINT) AS shard_id,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM pos GROUP BY 1"""


def pack_sequences_oracle_sql(
    capacity: int, token_expr: str, seed: str = "pack"
) -> str:
    """Replay of :func:`pack_sequences` over documents with a SQL token
    expression (integer-exact, so the global window here equals the
    two-level distributed prefix sum)."""
    h = salted_hash_sql("doc_id", seed)
    return f"""
        WITH toks AS (
          SELECT doc_id, CAST({token_expr} AS BIGINT) AS n_tokens,
                 {h} AS _h
          FROM documents WHERE text IS NOT NULL
        ), pre AS (
          SELECT doc_id, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY _h ASC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS BIGINT) AS tok_offset
          FROM toks
        )
        SELECT doc_id, n_tokens, tok_offset,
               CAST(tok_offset // {capacity} AS BIGINT) AS seq_id,
               CAST(tok_offset % {capacity} AS BIGINT) AS seq_offset
        FROM pre"""


def token_budget_subset_oracle_sql(
    budget: int, token_expr: str, seed: str = "budget"
) -> str:
    """Replay of :func:`token_budget_subset`: the pack prefix sum at
    capacity=budget filtered to offsets below the budget."""
    inner = pack_sequences_oracle_sql(budget, token_expr, seed)
    return f"""
        SELECT doc_id, n_tokens, tok_offset
        FROM ({inner})
        WHERE tok_offset < {budget}"""


def temperature_sample_oracle_sql(
    temperature: float, group_col: str = "source", seed: str = "temp"
) -> str:
    expo = 1.0 / temperature - 1.0
    h = salted_hash_sql("doc_id", seed)
    return f"""
        WITH counts AS (
          SELECT {group_col}, count(*) AS n FROM documents GROUP BY 1
        ), rates AS (
          SELECT {group_col},
                 round(pow(n, {expo!r})
                       / (SELECT max(pow(n, {expo!r})) FROM counts), 9)
                   AS keep_rate
          FROM counts
        )
        SELECT d.doc_id, d.{group_col}, r.keep_rate
        FROM documents d JOIN rates r USING ({group_col})
        WHERE {h} < CAST(round(r.keep_rate * 1e9) AS BIGINT)
                    * {HASH_SPACE} // 1000000000"""


def group_reservoir(
    df: DataFrame,
    group_cols: list[str],
    k: int,
    key_col: str = "doc_id",
    seed: str = "res",
) -> DataFrame:
    """Deterministic per-group "reservoir" of ``k`` rows: within each
    group keep the ``k`` rows with the smallest salted key hash (ties
    by key), tagged with their 1-based ``reservoir_rank``.

    This is the reproducible replacement for streaming reservoir
    sampling when building fixed-size per-stratum eval/inspection sets:
    the salted hash is a uniform permutation of the group, so rank ≤ k
    is a uniform k-sample — but unlike an RNG reservoir it is stable
    under re-partitioning, re-runs, and engine changes (the property
    every other sampler in this module guarantees).

    One shuffle on the group key; each window partition holds one
    group, so memory is bounded by the largest group, and Spark's
    rank-limit pushdown (WindowGroupLimit) keeps only ``k`` rows per
    group before the filter at scale.
    """
    h = salted_hash(F.col(key_col), seed)
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("reservoir_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("reservoir_rank") <= k)
    )


def group_reservoir_oracle_sql(
    group_cols: list[str],
    k: int,
    key_col: str = "doc_id",
    seed: str = "res",
    select_cols: str = "doc_id, lang, source",
) -> str:
    """DuckDB replay of :func:`group_reservoir` over ``documents``."""
    h = salted_hash_sql(key_col, seed)
    gc = ", ".join(group_cols)
    return f"""
        SELECT {select_cols}, reservoir_rank FROM (
          SELECT {select_cols},
                 CAST(row_number() OVER (
                   PARTITION BY {gc} ORDER BY {h}, {key_col}
                 ) AS BIGINT) AS reservoir_rank
          FROM documents
        ) WHERE reservoir_rank <= {k}"""


def epoch_repeat(
    df: DataFrame,
    epochs: dict[str, float],
    default: float = 1.0,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "epoch",
) -> DataFrame:
    """Fractional dataset repetition — the data-constrained scaling
    recipe (Muennighoff et al. 2023): realize a per-source epoch factor
    ``e`` by emitting ``floor(e)`` full copies of every row plus one
    extra copy for the deterministic ``frac(e)`` hash-fraction of rows.
    Each copy is tagged with a 1-based ``epoch`` index so downstream
    shuffling/packing can keep copies apart.

    The fractional membership uses the same truncating salted-hash cut
    as ``bernoulli_sample`` — ``int(frac * 2^32)`` — so for any rate
    where float64 gives ``e - floor(e) == rate`` the marginal-copy set
    IS ``bernoulli_sample(rate)`` exactly; so
    the realized corpus is reproducible and stable under repartitioning,
    and a source's ``e``-change only adds/removes the marginal copies.

    Plan shape: one broadcast join against the bounded per-source rate
    table, a codegen ``sequence``/``explode`` — no shuffle of the
    corpus; output size is exactly ``sum_source ceil-or-floor(e * n)``
    rows.  Rows whose source resolves to ``e < 1`` keep their first copy
    only if the hash admits them (``floor(e) = 0`` + fractional draw) —
    i.e. the operator degrades to deterministic subsampling.
    """
    rows = [
        (src, int(e), int((e - int(e)) * HASH_SPACE))
        for src, e in epochs.items()
    ]
    spark = df.sparkSession
    rates = spark.createDataFrame(
        rows, f"{group_col} string, _nfull int, _cut bigint"
    )
    h = salted_hash(F.col(key_col), seed)
    out = (
        df.join(F.broadcast(rates), group_col, "left")
        .withColumn(
            "_copies",
            F.coalesce(F.col("_nfull"), F.lit(int(default)))
            + (
                h
                < F.coalesce(
                    F.col("_cut"),
                    F.lit(int((default - int(default)) * HASH_SPACE)),
                )
            ).cast("int"),
        )
        .filter(F.col("_copies") > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(1), F.col("_copies")))
        )
        .withColumn("epoch", F.col("epoch").cast("bigint"))
        .drop("_nfull", "_cut", "_copies")
    )
    return out


def epoch_repeat_oracle_sql(
    epochs: dict[str, float],
    default: float = 1.0,
    group_col: str = "source",
    key_col: str = "doc_id",
    seed: str = "epoch",
    select_cols: str = "doc_id, source",
) -> str:
    """DuckDB replay of :func:`epoch_repeat` over ``documents``."""
    h = salted_hash_sql(f"d.{key_col}", seed)
    esc = lambda v: v.replace("'", "''")
    nf_arms = " ".join(
        f"WHEN {group_col} = '{esc(src)}' THEN {int(e)}"
        for src, e in epochs.items()
    )
    cut_arms = " ".join(
        f"WHEN {group_col} = '{esc(src)}' THEN {int((e - int(e)) * HASH_SPACE)}"
        for src, e in epochs.items()
    )
    d_nf = int(default)
    d_cut = int((default - int(default)) * HASH_SPACE)
    return f"""
        WITH withcopies AS (
          SELECT {select_cols},
                 (CASE {nf_arms} ELSE {d_nf} END
                  + CASE WHEN {h} < (CASE {cut_arms} ELSE {d_cut} END)
                         THEN 1 ELSE 0 END) AS copies
          FROM documents d
        )
        SELECT {select_cols}, g.epoch FROM withcopies,
          LATERAL (SELECT CAST(unnest(generate_series(1, copies)) AS BIGINT)
                   AS epoch) g
        WHERE copies > 0"""


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    seed: str = "pri",
) -> DataFrame:
    """Weighted sampling without replacement via *priority sampling*
    (Duffield, Lund & Thorup, JACM 2007): each row gets priority
    ``q = w / u`` with ``u`` uniform on (0, 1]; the ``k`` largest
    priorities form the sample, and the threshold ``tau`` (the
    (k+1)-th priority) yields the unbiased per-row weight estimator
    ``w_hat = max(w, tau)`` — subset-sum estimates over the sample are
    unbiased for the population.  The quality-weighted subset pass of
    a corpus pipeline ("keep 50k docs, preferring long/high-score
    ones, with reweighting so corpus statistics stay estimable").

    Determinism/portability: ``u = (h + 1) / 2^32`` from the portable
    salted hash, so the priority in natural weight units is exactly
    ``q = w * 2^32 / (h + 1)`` — computed as the EXACT int64 floor
    division ``w * 2^32 div (h + 1)``.  No float decides membership,
    the estimator ``max(w, tau)`` is a pure integer ``greatest``, and
    the DuckDB oracle replays every comparison bit-for-bit.  Ties at
    the boundary break on the key.  ``w`` must be a positive integer
    below 2^31 (the numerator stays under 2^63).

    Scale shape: one codegen projection (md5 + integer ops) and ONE
    distributed TakeOrdered(k+1) — no global sort, no shuffle of the
    corpus.  The k+1 survivors are control-sized (same category as
    k-means centroids): they are eagerly checkpointed, ranked via a
    broadcast inequality self-join (no single-partition window), and
    the one-row tau rides a broadcast cross join.

    Returns (key, weight, priority_units, est_weight) for the ``k``
    sampled rows, where ``est_weight = max(w, tau)`` (exact int64,
    emitted as a lossless double).
    """
    w = F.col(weight_col).cast("bigint")
    h = salted_hash(F.col(key_col), seed)
    scored = df.select(
        F.col(key_col).alias("key"),
        w.alias("weight"),
        (w * F.lit(HASH_SPACE)).cast("bigint").alias("_num"),
        (h + 1).alias("_den"),
    ).select(
        "key", "weight", F.expr("_num div _den").alias("priority_units")
    )
    top = (
        scored.orderBy(F.desc("priority_units"), F.asc("key"))
        .limit(k + 1)
        .localCheckpoint(eager=True)
    )
    b = top.select(
        F.col("priority_units").alias("_bq"), F.col("key").alias("_bk")
    )
    ranked = (
        top.join(
            F.broadcast(b),
            (F.col("_bq") > F.col("priority_units"))
            | (
                (F.col("_bq") == F.col("priority_units"))
                & (F.col("_bk") < F.col("key"))
            ),
            "left",
        )
        .groupBy("key", "weight", "priority_units")
        .agg(F.count("_bk").cast("bigint").alias("_nbefore"))
    )
    tau = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("_nbefore") == k, F.col("priority_units"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("_tau")
    )
    return (
        ranked.filter(F.col("_nbefore") <= k - 1)
        .crossJoin(F.broadcast(tau))
        .select(
            "key",
            "weight",
            "priority_units",
            F.greatest(F.col("weight"), F.col("_tau"))
            .cast("double")
            .alias("est_weight"),
        )
    )


def priority_sample_oracle_sql(
    k: int,
    weight_expr: str = "n_chars",
    key_col: str = "doc_id",
    seed: str = "pri",
    table: str = "documents",
) -> str:
    """DuckDB replay of :func:`priority_sample`: identical integer
    priorities, rank via row_number (total order matches the engine's
    (priority DESC, key ASC) tiebreak), tau = the (k+1)-th priority."""
    h = salted_hash_sql(key_col, seed)
    return f"""
        WITH scored AS (
          SELECT {key_col} AS key,
                 CAST({weight_expr} AS BIGINT) AS weight,
                 (CAST({weight_expr} AS BIGINT) * {HASH_SPACE})
                   // ({h} + 1) AS priority_units
          FROM {table}
        ), ranked AS (
          SELECT key, weight, priority_units,
                 row_number() OVER (
                   ORDER BY priority_units DESC, key
                 ) AS rn
          FROM scored
        ), tau AS (
          SELECT CAST(coalesce(
                   max(CASE WHEN rn = {k + 1} THEN priority_units END), 0
                 ) AS BIGINT) AS t
          FROM ranked WHERE rn <= {k + 1}
        )
        SELECT key, weight, priority_units,
               CAST(greatest(weight, tau.t) AS DOUBLE) AS est_weight
        FROM ranked CROSS JOIN tau WHERE rn <= {k}"""


# -------------------------------------------------------- greedy cover


def greedy_set_cover(
    docs: DataFrame,
    k: int = 8,
    steps: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy maximum-coverage data-subset selection (the classic
    (1 - 1/e)-approximate submodular greedy; Nemhauser-Wolsey-Fisher
    1978): pick up to ``steps`` documents, each maximizing the count of
    k-shingles NOT yet covered by earlier picks — the coverage-driven
    subset selection LLM pipelines use to seed diverse training
    mixtures.  Ties break to the smallest doc id, so the selection is
    fully deterministic.

    Scale shape: the postings table (doc, shingle) is built once and
    eagerly checkpointed (every step rescans it); each step is one
    anti-join against the covered-shingle set + a count aggregation,
    with only the single argmax row moving to the driver (the
    kmeans/kcenter bounded-collect precedent).  The covered set feeds
    TWO consumers per step (gain anti-join + next union), so it is
    checkpointed per step — the twice-consumed-iteration-state idiom.
    Stops early when nothing new can be covered.

    Returns (step, doc_id, gain, covered_total) — all exact int64.
    """
    from openseize_spark.llm.dedup import _shingle_expr, normalize_text

    norm = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("_id"),
        normalize_text(F.col(text_col)).alias("_txt"),
    )
    postings = norm.select(
        "_id", F.explode(_shingle_expr(F.col("_txt"), k)).alias("s")
    ).localCheckpoint(eager=True)

    spark = docs.sparkSession
    covered = None
    picks = []
    for step in range(1, steps + 1):
        uncovered = (
            postings
            if covered is None
            else postings.join(covered, "s", "left_anti")
        )
        top = (
            uncovered.groupBy("_id")
            .agg(F.count("*").alias("g"))
            .orderBy(F.desc("g"), "_id")
            .limit(1)
            .collect()
        )
        if not top or top[0].g == 0:
            break
        doc_id, gain = int(top[0]._id), int(top[0].g)
        new_cov = postings.filter(F.col("_id") == doc_id).select("s")
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov).distinct()
        ).localCheckpoint(eager=True)
        picks.append((step, doc_id, gain, covered.count()))
    return spark.createDataFrame(
        picks,
        "step bigint, doc_id bigint, gain bigint, covered_total bigint",
    )


def greedy_set_cover_oracle_sql(k: int = 8, steps: int = 8) -> str:
    """DuckDB replay of ``greedy_set_cover``: unrolled greedy steps;
    the covered-set CTEs are referenced twice per step (gain anti-join
    + next union) and so are MATERIALIZED."""
    from openseize_spark.llm.dedup import normalize_text_sql

    ctes = [f"""
        WITH p AS MATERIALIZED (
          SELECT DISTINCT doc_id AS _id, substring(nt, i, {k}) AS s
          FROM (SELECT doc_id, {normalize_text_sql()} AS nt
                FROM documents WHERE text IS NOT NULL) n,
               unnest(generate_series(1, greatest(length(nt) - {k - 1},
                 0))) AS u(i)
        )"""]
    for r in range(1, steps + 1):
        if r == 1:
            gain_src = "SELECT _id, count(*) AS g FROM p GROUP BY _id"
        else:
            gain_src = f"""SELECT p._id, count(*) AS g
              FROM p LEFT JOIN c{r - 1} cv ON cv.s = p.s
              WHERE cv.s IS NULL GROUP BY p._id"""
        ctes.append(f""", s{r} AS MATERIALIZED (
          SELECT _id, CAST(g AS BIGINT) AS g FROM ({gain_src})
          WHERE g > 0 ORDER BY g DESC, _id LIMIT 1
        )""")
        prev_cov = (
            ""
            if r == 1
            else f"SELECT s FROM c{r - 1} UNION "
        )
        ctes.append(f""", c{r} AS MATERIALIZED (
          {prev_cov}SELECT DISTINCT p.s FROM p JOIN s{r} ON p._id = s{r}._id
        )""")
    arms = "\n          UNION ALL ".join(
        f"""SELECT CAST({r} AS BIGINT) AS step, _id AS doc_id, g AS gain,
               CAST((SELECT count(*) FROM c{r}) AS BIGINT)
                 AS covered_total
            FROM s{r}"""
        for r in range(1, steps + 1)
    )
    return "".join(ctes) + f"\n        {arms}"

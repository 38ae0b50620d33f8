"""Deterministic sampling, splitting, packing and shard assignment over
``documents`` (llm/sampling).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from openseize_spark.llm import dedup, sampling, text as llm_text

from openseize_spark.registry import register
from openseize_spark.registry.common import _dl_cte, _t


def q_hash_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return sampling.bernoulli_sample(docs, rate=0.25, seed="s0").select(
        "doc_id", "lang", "source", "n_chars"
    )


register("hash_sample", q_hash_sample, lambda: sampling.bernoulli_sample_oracle_sql(rate=0.25, seed="s0"))


def q_split_assign(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = sampling.split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed="split"
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


register("split_assign", q_split_assign, lambda: sampling.split_assign_oracle_sql(
    {"train": 0.8, "val": 0.1, "test": 0.1}, seed="split"
))


def q_stratified_sample(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, group_col="source", k=10, seed="strat"
    ).select("doc_id", "lang", "source")


register("stratified_sample", q_stratified_sample, lambda: sampling.stratified_sample_oracle_sql(
    group_col="source", k=10, seed="strat"
))


def q_corpus_shuffle(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return sampling.corpus_shuffle(docs, seed="shuf", num_buckets=64).select(
        "doc_id", "shuffle_pos"
    )


register("corpus_shuffle", q_corpus_shuffle, lambda: sampling.corpus_shuffle_oracle_sql(seed="shuf"))


def q_pack_sequences(spark, sf_dir):
    """Sequence packing for training: concat-and-cut at 2048 tokens
    over the deterministically shuffled corpus — two-level integer
    prefix sum, one shuffle + one broadcast (llm/sampling.py)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", llm_text.token_count(F.col("text")).alias("n_tokens")
    )
    return sampling.pack_sequences(toks, capacity=2048).select(
        "doc_id", "n_tokens", "tok_offset", "seq_id", "seq_offset"
    )


register("pack_sequences", q_pack_sequences, lambda: sampling.pack_sequences_oracle_sql(
    capacity=2048, token_expr=llm_text.token_count_sql()
))


def q_temperature_sample(spark, sf_dir):
    """Temperature-based rebalancing over the skewed lang column
    (T=2): keep rate n_s^(1/T-1) normalized so the smallest group
    keeps everything, deterministic salted-hash membership."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.temperature_sample(
        docs, temperature=2.0, group_col="lang"
    ).select("doc_id", "lang", F.round("keep_rate", 9).alias("keep_rate"))


register("temperature_sample", q_temperature_sample, lambda: sampling.temperature_sample_oracle_sql(
    temperature=2.0, group_col="lang"
))


def q_dsir_sample(spark, sf_dir):
    """DSIR importance resampling toward the zh sub-corpus
    (llm/sampling.py dsir_sample): hashed-unigram importance ratios,
    integer-unit scores, Gumbel-top-k selection of 100 docs."""
    docs = _t(spark, sf_dir, "documents")
    # score is one IEEE division over integer-exact operands —
    # bit-identical to the oracle with no rounding needed
    return sampling.dsir_sample(
        docs, n_keep=100, target_col="lang", target_val="zh"
    )


register("dsir_sample", q_dsir_sample, lambda: sampling.dsir_sample_oracle_sql(
    n_keep=100, target_col="lang", target_val="zh"
))


def q_shard_assign(spark, sf_dir):
    """Training-shard assignment (llm/sampling.py shard_assign):
    hash-shuffled corpus cut into 100-row shards, returned as the
    per-shard summary (all-integer)."""
    docs = _t(spark, sf_dir, "documents")
    s = sampling.shard_assign(docs, rows_per_shard=100)
    return s.groupBy("shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


register("shard_assign", q_shard_assign, lambda: sampling.shard_assign_oracle_sql(rows_per_shard=100))


def q_token_budget_subset(spark, sf_dir):
    """Deterministic 8000-token corpus slice (llm/sampling.py
    token_budget_subset): documents in hash-shuffled order while the
    running token total stays under budget."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id", llm_text.token_count(F.col("text")).alias("n_tokens")
    )
    return sampling.token_budget_subset(toks, budget=8000).select(
        "doc_id", "n_tokens", "tok_offset"
    )


register("token_budget_subset", q_token_budget_subset, lambda: sampling.token_budget_subset_oracle_sql(
    budget=8000, token_expr=llm_text.token_count_sql()
))


def q_mixture_sample(spark, sf_dir):
    """Training-mixture realization (llm/sampling.py mixture_sample):
    down-sample the 20 sources to integer target weights 1..4 with
    the limiting source kept whole; membership is the salted-hash
    cut in exact DECIMAL/HUGEINT arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    weights = {f"src{i}": 1 + i % 4 for i in range(20)}
    return sampling.mixture_sample(docs, weights).select(
        "doc_id", "source", "keep_rate"
    )


register("mixture_sample", q_mixture_sample, lambda: sampling.mixture_sample_oracle_sql(
    weights={f"src{i}": 1 + i % 4 for i in range(20)}
))


def q_group_reservoir(spark, sf_dir):
    """Deterministic per-stratum reservoir (llm/sampling.py
    group_reservoir): the 3 smallest-salted-hash docs per (lang,
    source) cell — the reproducible eval-set carve-out.  One
    shuffle on the stratum key; WindowGroupLimit caps each
    partition at k rows before the filter."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.group_reservoir(
        docs, ["lang", "source"], k=3, key_col="doc_id", seed="res6"
    ).select("doc_id", "lang", "source", "reservoir_rank")


register("group_reservoir", q_group_reservoir, lambda: sampling.group_reservoir_oracle_sql(
    ["lang", "source"], k=3, key_col="doc_id", seed="res6"
))


def q_epoch_repeat(spark, sf_dir):
    """Fractional dataset repetition (llm/sampling.py epoch_repeat):
    src0 x2.5, src1 x1.25, src2 x0.5 (deterministic subsample),
    everything else x1.0 — floor(e) full copies plus a salted-hash
    draw for the fraction, each copy tagged with its epoch index.
    Broadcast rate table + codegen sequence/explode; the corpus
    never shuffles."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.epoch_repeat(
        docs, {"src0": 2.5, "src1": 1.25, "src2": 0.5}, seed="ep6"
    )


register("epoch_repeat", q_epoch_repeat, lambda: sampling.epoch_repeat_oracle_sql(
    {"src0": 2.5, "src1": 1.25, "src2": 0.5}, seed="ep6"
))


def q_quota_apportion(spark, sf_dir):
    """Hamilton largest-remainder apportionment of a 1000-doc
    sampling budget across sources proportional to their corpus
    counts — the exact-integer mixture-planning step (every seat
    from `(n*B) div N` plus one for the largest remainders, so
    seats always sum to B and no float can flip an allocation).
    The remainder ranking runs as a broadcast inequality self-join
    over the bounded source relation — no SinglePartition window.
    The per-source counts checkpoint once: every downstream branch
    (total, both self-join sides, base-seat sum) is a projection of
    that tiny relation, and without the checkpoint each one re-runs
    the full corpus scan + aggregate."""
    B = 1000
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(F.sum("n_docs").alias("_N"))
    base = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr(f"(n_docs * {B}) div _N").cast("bigint"))
        .withColumn("rem", ((F.col("n_docs") * B) % F.col("_N")).cast("bigint"))
    )
    other = base.select(
        F.col("source").alias("_s2"),
        F.col("rem").alias("_r2"),
    )
    ranked = (
        base.join(
            F.broadcast(other),
            (F.col("_r2") > F.col("rem"))
            | ((F.col("_r2") == F.col("rem")) & (F.col("_s2") < F.col("source"))),
            "left",
        )
        .groupBy("source", "n_docs", "base", "rem", "_N")
        .agg(F.count("_s2").alias("_ahead"))
    )
    base_tot = ranked.agg(F.sum("base").alias("_bsum"))
    return (
        ranked.crossJoin(F.broadcast(base_tot))
        .withColumn("_extra", F.lit(B) - F.col("_bsum"))
        .withColumn(
            "seats",
            (
                F.col("base")
                + (F.col("_ahead") < F.col("_extra")).cast("bigint")
            ).cast("bigint"),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "base",
            "rem",
            "seats",
        )
    )


register("quota_apportion", q_quota_apportion, """
        WITH counts AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        ), tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS N FROM counts
        ), base AS (
          SELECT source, n_docs,
                 CAST((n_docs * 1000) // N AS BIGINT) AS base,
                 CAST((n_docs * 1000) % N AS BIGINT) AS rem
          FROM counts, tot
        ), ranked AS (
          SELECT b.source, b.n_docs, b.base, b.rem,
                 (SELECT count(*) FROM base o
                  WHERE o.rem > b.rem
                     OR (o.rem = b.rem AND o.source < b.source)) AS ahead
          FROM base b
        ), extra AS (
          SELECT CAST(1000 - sum(base) AS BIGINT) AS e FROM base
        )
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               base, rem,
               CAST(base + CASE WHEN ahead < e THEN 1 ELSE 0 END AS BIGINT)
                 AS seats
        FROM ranked, extra""")


def q_rendezvous_shards(spark, sf_dir):
    """Rendezvous (highest-random-weight) routing of documents onto
    8 shards: each doc goes to the shard whose salted hash of
    (doc, shard) is highest — the stable-assignment scheme that
    moves only 1/n of keys when a shard joins or leaves (vs ~all
    keys under mod-n).  Pure integer argmax over 8 portable hashes
    per row, no shuffle until the per-shard count; emits the shard
    histogram so balance is auditable."""
    docs = _t(spark, sf_dir, "documents")
    hs = [
        sampling.salted_hash(
            F.concat(F.col("doc_id").cast("string"), F.lit(f"#s{s}")),
            "rv6",
        )
        for s in range(8)
    ]
    best = hs[0]
    shard = F.lit(0)
    for s in range(1, 8):
        shard = F.when(hs[s] > best, F.lit(s)).otherwise(shard)
        best = F.greatest(best, hs[s])
    return (
        docs.select(shard.cast("bigint").alias("shard"))
        .groupBy("shard")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


register("rendezvous_shards", q_rendezvous_shards, """
        WITH x AS (
          SELECT doc_id, s.s AS s,
                 (('0x' || substr(md5('rv6:' || (CAST(doc_id AS VARCHAR)
                                                 || ('#s' || s.s))), 1, 8))
                  ::BIGINT) AS h
          FROM documents,
               (SELECT unnest(generate_series(0, 7)) AS s) s
        ), pick AS (
          SELECT doc_id, s FROM (
            SELECT doc_id, s,
                   row_number() OVER (
                     PARTITION BY doc_id ORDER BY h DESC, s
                   ) AS rn
            FROM x
          ) WHERE rn = 1
        )
        SELECT CAST(s AS BIGINT) AS shard,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM pick GROUP BY s""")

_sc_h = sampling.salted_hash_sql(
    "CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)", "sc6"
)


def q_span_corruption(spark, sf_dir):
    """T5-style span-corruption plan: deterministic mask-span
    starts (salted hash of (doc, position) under a 1/15 cut),
    fixed span length 3, and the per-doc masked-position census —
    the denoising-pretraining data-prep pass.  Coverage counts
    come from a bounded range join (each start covers 3
    positions); overlapping spans merge through the DISTINCT.  All
    integer except the final ratio."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.posexplode(dedup.tokenize(F.col("text"))).alias("pos", "w")
    ).select("doc_id", "pos")
    cut = sampling.HASH_SPACE // 15
    h = sampling.salted_hash(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("pos").cast("string"),
        ),
        "sc6",
    )
    starts = toks.filter(h < cut).select(
        F.col("doc_id").alias("_d"), F.col("pos").alias("_s")
    )
    nt = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    ns = starts.groupBy(F.col("_d").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("n_spans")
    )
    covered = (
        toks.join(
            starts,
            (F.col("_d") == F.col("doc_id"))
            & (F.col("pos") >= F.col("_s"))
            & (F.col("pos") <= F.col("_s") + 2),
        )
        .select("doc_id", "pos")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_masked"))
    )
    return (
        nt.join(ns, on="doc_id", how="left")
        .join(covered, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
            F.coalesce(F.col("n_masked"), F.lit(0))
            .cast("bigint")
            .alias("n_masked"),
            F.round(
                F.coalesce(F.col("n_masked"), F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
                9,
            ).alias("mask_ratio"),
        )
    )


register("span_corruption", q_span_corruption, lambda: f"""
        WITH dl AS ({_dl_cte}
        ), toks AS (
          SELECT doc_id, i.i - 1 AS pos
          FROM dl, unnest(generate_series(1, len(wl))) AS i(i)
        ), nt AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM toks
          GROUP BY doc_id
        ), st AS (
          SELECT doc_id AS d, pos AS s FROM toks
          WHERE {_sc_h} < {sampling.HASH_SPACE // 15}
        ), ns AS (
          SELECT d AS doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM st
          GROUP BY d
        ), cov AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_masked FROM (
            SELECT DISTINCT t.doc_id, t.pos
            FROM toks t
            JOIN st ON st.d = t.doc_id
                   AND t.pos BETWEEN st.s AND st.s + 2
          ) GROUP BY doc_id
        )
        SELECT nt.doc_id, nt.n_tokens,
               CAST(coalesce(ns.n_spans, 0) AS BIGINT) AS n_spans,
               CAST(coalesce(cov.n_masked, 0) AS BIGINT) AS n_masked,
               round(CAST(coalesce(cov.n_masked, 0) AS DOUBLE)
                     / CAST(nt.n_tokens AS DOUBLE), 9) AS mask_ratio
        FROM nt
        LEFT JOIN ns ON ns.doc_id = nt.doc_id
        LEFT JOIN cov ON cov.doc_id = nt.doc_id""")


def q_priority_sample(spark, sf_dir):
    """Priority sampling (Duffield-Lund-Thorup): the 50 documents
    with the largest integer priorities w * 2^32 div (h + 1) —
    weighted sampling without replacement whose tau-adjusted
    weights make subset sums unbiased (llm/sampling.priority_sample).
    One codegen projection + one TakeOrdered(k+1); the survivors
    are control-sized and rank via a broadcast inequality
    self-join, never a data-bearing single-partition window."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.priority_sample(
        docs, k=50, weight_col="n_chars", key_col="doc_id", seed="pri"
    )


register("priority_sample", q_priority_sample, lambda: sampling.priority_sample_oracle_sql(
    k=50, weight_expr="n_chars", key_col="doc_id", seed="pri"
))


def _ring_vnodes(n_shards: int, vnodes_per_shard: int):
    """Consistent-hash ring constants for q_consistent_hash_ring:
    (vnode_hash, shard) sorted by hash, computed driver-side with the
    same md5-prefix scheme as sampling.salted_hash so both engines
    embed IDENTICAL literals (the fir-taps pattern).  Collisions would
    make min-by ties engine-dependent, so they are asserted away."""
    import hashlib

    vn = []
    for s in range(n_shards):
        for v in range(vnodes_per_shard):
            h = int(
                hashlib.md5(f"ring:s{s}#v{v}".encode()).hexdigest()[:8], 16
            )
            vn.append((h, s))
    assert len({h for h, _ in vn}) == len(vn), "vnode hash collision"
    return sorted(vn)


def _ring_assign_cte(tag, n_shards):
    vn = _ring_vnodes(n_shards, 16)
    vals = ", ".join(f"({vh}, {s})" for vh, s in vn)
    fb = vn[0][1]
    return f"""{tag} AS (
          SELECT k.doc_id,
                 coalesce(min_by(v.shard, v.vh)
                            FILTER (WHERE v.vh >= k.kh),
                          {fb}) AS shard
          FROM keys k
          LEFT JOIN (SELECT * FROM (VALUES {vals}) AS t(vh, shard)) v
            ON v.vh >= k.kh
          GROUP BY k.doc_id
        )"""


def q_consistent_hash_ring(spark, sf_dir):
    """Consistent-hash ring rebalance audit (Karger et al.,
    STOC'97): documents assigned to the first virtual node
    clockwise on an 8-shard ring (16 vnodes each), then again
    after shard 8 joins, emitting the (shard_before, shard_after,
    n) transition matrix.  THE ring invariant — adding a shard
    only moves keys TO the new shard, never between old ones — is
    visible in the output (off-diagonal rows all land on 8) and
    pinned by a pytest.  The ring complement to
    q_rendezvous_shards' highest-random-weight scheme.  Vnode
    hashes are 144 driver-side md5 constants (the fir-taps
    pattern) embedded as a sorted in-row array, so assignment is
    an O(vnodes) row-local scan — no join amplification, no
    shuffle before the final count."""
    docs = _t(spark, sf_dir, "documents")
    kh = sampling.salted_hash(F.col("doc_id"), "ring")

    def assign_expr(n_shards):
        vn = _ring_vnodes(n_shards, 16)
        arr = ",".join(
            f"named_struct('vh', CAST({vh} AS BIGINT), "
            f"'shard', CAST({s} AS BIGINT))"
            for vh, s in vn
        )
        fallback = vn[0][1]  # wrap-around: smallest vnode hash
        return (
            f"coalesce(try_element_at(filter(array({arr}), "
            f"x -> x.vh >= _kh), 1).shard, CAST({fallback} AS BIGINT))"
        )

    keyed = docs.select(kh.alias("_kh"))
    return (
        keyed.select(
            F.expr(assign_expr(8)).alias("shard_before"),
            F.expr(assign_expr(9)).alias("shard_after"),
        )
        .groupBy("shard_before", "shard_after")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


register("consistent_hash_ring", q_consistent_hash_ring, lambda: f"""
        WITH keys AS (
          SELECT doc_id, {sampling.salted_hash_sql("doc_id", "ring")} AS kh FROM documents
        ), {_ring_assign_cte("a8", 8)}, {_ring_assign_cte("a9", 9)}
        SELECT CAST(a8.shard AS BIGINT) AS shard_before,
               CAST(a9.shard AS BIGINT) AS shard_after,
               CAST(count(*) AS BIGINT) AS n
        FROM a8 JOIN a9 ON a8.doc_id = a9.doc_id
        GROUP BY 1, 2
    """)


def q_greedy_set_cover(spark, sf_dir):
    """Greedy maximum-coverage subset selection (llm/sampling
    .greedy_set_cover; Nemhauser-Wolsey-Fisher 1978): up to 8
    documents, each maximizing newly-covered 8-shingles — the
    (1-1/e)-approximate submodular greedy that seeds diverse
    training mixtures, with deterministic smallest-id tie-break.
    One eagerly-checkpointed postings build, one anti-join + count
    per step, a single argmax row to the driver per step (the
    kcenter precedent), and the per-step covered-set checkpoint
    (the twice-consumed-state idiom)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.greedy_set_cover(docs, k=8, steps=8)


register("greedy_set_cover", q_greedy_set_cover, lambda: sampling.greedy_set_cover_oracle_sql(
    k=8, steps=8
))


def q_ess_weights(spark, sf_dir):
    """Effective sample size of per-document importance weights by
    source (Kish 1965; the weight-degeneracy diagnostic every
    importance-weighted corpus mix needs next to dsir_sample):
    with w = n_chars, ESS = (Σw)²/Σw² and the ratio ESS/n says
    how much of the nominal sample the weighting keeps.  Sums are
    exact int64 via DECIMAL(38,0) accumulation (w² ~ 1e8 · 1e6
    docs at sf1 stays far under the 38-digit bound, and the gate
    casts to BIGINT with >=100x headroom); the two ESS divisions
    are division-derived doubles.  One grouped agg, no joins.
    Returns (source, n_docs, sum_w, sum_w2, ess, ess_ratio)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    )
    dec = "decimal(38,0)"
    agg = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars").cast(dec)).cast("bigint").alias("sum_w"),
        F.sum(
            (F.col("n_chars") * F.col("n_chars")).cast(dec)
        )
        .cast("bigint")
        .alias("sum_w2"),
    )
    ess = (
        F.col("sum_w").cast("double") * F.col("sum_w").cast("double")
    ) / F.col("sum_w2").cast("double")
    return agg.select(
        "source",
        "n_docs",
        "sum_w",
        "sum_w2",
        ess.alias("ess"),
        (ess / F.col("n_docs").cast("double")).alias("ess_ratio"),
    )


register("ess_weights", q_ess_weights, """
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CAST(n_chars AS HUGEINT)) AS BIGINT) AS sum_w,
               CAST(sum(CAST(n_chars * n_chars AS HUGEINT)) AS BIGINT)
                 AS sum_w2,
               (CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE)
                * CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE))
                 / CAST(sum(CAST(n_chars * n_chars AS HUGEINT)) AS DOUBLE)
                 AS ess,
               ((CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE)
                 * CAST(sum(CAST(n_chars AS HUGEINT)) AS DOUBLE))
                  / CAST(sum(CAST(n_chars * n_chars AS HUGEINT)) AS DOUBLE))
                 / CAST(count(*) AS DOUBLE) AS ess_ratio
        FROM documents
        WHERE n_chars IS NOT NULL AND source IS NOT NULL
        GROUP BY source
    """)

"""Vector queries over ``embeddings``: exact and approximate top-k,
clustering, product quantization and retrieval evaluation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F, Window as W

from openseize_spark.llm import similarity

from openseize_spark.registry import oracle_of, register
from openseize_spark.registry.common import _t


def q_label_centroids(spark, sf_dir):
    """Per-label embedding centroid and dispersion (engine-native
    array analytics): posexplode to (label, dim, x), two-level
    partial aggregation on the short (label, dim) key — the grouped
    vector-stats shape behind cluster quality checks.

    Determinism: x and x*x are quantized per element to integer
    1e-9 / 1e-12 units (floor(v*q + 0.5), |x| <= 1 keeps the sums
    int64-exact past 1e6 rows per group) and summed exactly, then
    mean/variance divide once — float avg() is reduction-order
    sensitive, and the avg(x^2) - avg(x)^2 product amplifies a
    1-ulp reordering across the round-at-9 boundary (the
    coherence failure class; flagged by tools/float_order_audit.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("dim", "_x")
    ).withColumn("_x", F.col("_x").cast("double"))
    xq = F.floor(F.col("_x") * 1e9 + 0.5).cast("bigint")
    x2q = F.floor(F.col("_x") * F.col("_x") * 1e12 + 0.5).cast("bigint")
    g = x.groupBy("label", F.col("dim").cast("bigint").alias("dim")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(xq).alias("s1"),
        F.sum(x2q).alias("s2"),
    )
    # no final rounding: the quotients of exact ints are bit-identical
    # across engines, and round-at-9 would only re-introduce a
    # half-way tie-break (HALF_UP vs half-away) the engines can
    # disagree on — quantized inputs make ties common, not rare
    mean = F.col("s1").cast("double") / 1e9 / F.col("n")
    return g.select(
        "label",
        "dim",
        "n",
        mean.alias("mean_x"),
        (F.col("s2").cast("double") / 1e12 / F.col("n") - mean * mean).alias(
            "var_x"
        ),
    )


register("label_centroids", q_label_centroids, """
        WITH xs AS (
          SELECT label, CAST(u.i - 1 AS BIGINT) AS dim,
                 CAST(embedding[u.i] AS DOUBLE) AS x
          FROM embeddings,
               unnest(generate_series(1, len(embedding))) AS u(i)
        ), q AS (
          SELECT label, dim,
                 CAST(floor(x * 1e9 + 0.5) AS BIGINT) AS xq,
                 CAST(floor(x * x * 1e12 + 0.5) AS BIGINT) AS x2q
          FROM xs
        ), g AS (
          SELECT label, dim,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(xq) AS BIGINT) AS s1,
                 CAST(sum(x2q) AS BIGINT) AS s2
          FROM q GROUP BY label, dim
        )
        SELECT label, dim, n,
               CAST(s1 AS DOUBLE) / 1e9 / n AS mean_x,
               CAST(s2 AS DOUBLE) / 1e12 / n
                 - (CAST(s1 AS DOUBLE) / 1e9 / n)
                   * (CAST(s1 AS DOUBLE) / 1e9 / n) AS var_x
        FROM g
    """)


def q_embedding_quality(spark, sf_dir):
    """Embeddings-table quality: per-label vector counts, dimension
    consistency, zero-vector count, and norm extrema — the sanity
    pass before any ANN index build.  Per-row norms are sequential
    array folds (deterministic, same order as the knn oracles);
    min/max of identical doubles are engine-invariant."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm2 = F.aggregate(
        F.transform(v, lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        emb.withColumn("_n2", norm2)
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.countDistinct(F.size("embedding"))
            .cast("bigint")
            .alias("n_dims_seen"),
            F.sum(F.when(F.col("_n2") == 0.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero_vectors"),
            F.round(F.sqrt(F.min("_n2")), 9).alias("min_norm"),
            F.round(F.sqrt(F.max("_n2")), 9).alias("max_norm"),
        )
    )


register("embedding_quality", q_embedding_quality, """
        WITH e AS (
          SELECT label, embedding,
                 list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> x * x)) AS n2
          FROM embeddings
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(count(DISTINCT len(embedding)) AS BIGINT) AS n_dims_seen,
               CAST(sum(CASE WHEN n2 = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_zero_vectors,
               round(sqrt(min(n2)), 9) AS min_norm,
               round(sqrt(max(n2)), 9) AS max_norm
        FROM e GROUP BY label
    """)


def q_knn_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    out = similarity.cosine_topk(corpus, queries_df, k=5)
    return out.select("q_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank"))


register("knn_cosine", q_knn_cosine, """
            WITH q AS (
              SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 3
            ), c AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= 3
            ), s AS (
              SELECT q_id, vec_id,
                     list_cosine_similarity(cv, qv) AS cosine
              FROM c CROSS JOIN q
            )
            SELECT q_id, vec_id, cosine,
                   CAST(row_number() OVER (
                     PARTITION BY q_id ORDER BY cosine DESC, vec_id
                   ) AS BIGINT) AS rank
            FROM s
            QUALIFY rank <= 5
        """)


def q_embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    e = similarity.with_norm(emb)
    return e.groupBy("label").agg(
        F.avg("_norm").alias("avg_norm"), F.count("*").alias("n_vecs")
    )


register("embedding_norms", q_embedding_norms, """
            SELECT label,
                   avg(sqrt(list_sum(list_transform(
                     CAST(embedding AS DOUBLE[]), x -> x * x)))) AS avg_norm,
                   count(*) AS n_vecs
            FROM embeddings GROUP BY label
        """)


def q_embedding_dedup(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    dup = base.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(0.05)), F.slice("v", 2, 63)
        ).alias("v"),
        "label",
    )
    allv = base.unionByName(dup)
    return similarity.cosine_near_dup(
        allv, threshold=0.99, block_col="label", vec_col="v"
    )


register("embedding_dedup", q_embedding_dedup, """
            WITH base AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
            ), dup AS (
              SELECT vec_id + 10000 AS vec_id,
                     list_concat([v[1] + CAST(0.05 AS DOUBLE)], v[2:64]) AS v, label
              FROM base WHERE vec_id < 50
            ), allv AS (
              SELECT * FROM base UNION ALL SELECT * FROM dup
            )
            SELECT x.vec_id AS a, y.vec_id AS b,
                   list_dot_product(x.v, y.v)
                   / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))
                   AS cosine
            FROM allv x JOIN allv y ON x.label = y.label AND x.vec_id < y.vec_id
            WHERE list_dot_product(x.v, y.v)
                  / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))
                  >= 0.99
        """)


def q_ivf_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 3)
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    centroids = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 11)).select(
        (F.col("vec_id") - 3).cast("int").alias("cell_id"),
        F.col("embedding").alias("cvec"),
    )
    return similarity.ivf_topk(corpus, queries_df, centroids, k=5, nprobe=2)


register("ivf_topk", q_ivf_topk, """
            WITH cent AS (
              SELECT CAST(vec_id - 3 AS INT) AS cell_id,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM embeddings WHERE vec_id >= 3 AND vec_id < 11
            ), corpus AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id >= 3
            ), assigned AS (
              SELECT vec_id, cell_id, v FROM (
                SELECT c.vec_id, ct.cell_id, c.v,
                       row_number() OVER (
                         PARTITION BY c.vec_id
                         ORDER BY list_dot_product(c.v, c.v)
                                  - 2 * list_dot_product(c.v, ct.cv)
                                  + list_dot_product(ct.cv, ct.cv),
                                  ct.cell_id
                       ) AS rk
                FROM corpus c CROSS JOIN cent ct
              ) WHERE rk = 1
            ), q AS (
              SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 3
            ), probes AS (
              SELECT q_id, cell_id, qv FROM (
                SELECT q.q_id, ct.cell_id, q.qv,
                       row_number() OVER (
                         PARTITION BY q.q_id
                         ORDER BY list_dot_product(q.qv, q.qv)
                                  - 2 * list_dot_product(q.qv, ct.cv)
                                  + list_dot_product(ct.cv, ct.cv),
                                  ct.cell_id
                       ) AS rk
                FROM q CROSS JOIN cent ct
              ) WHERE rk <= 2
            ), s AS (
              SELECT p.q_id, a.vec_id,
                     list_cosine_similarity(a.v, p.qv) AS cosine
              FROM assigned a JOIN probes p ON a.cell_id = p.cell_id
            )
            SELECT q_id, vec_id, cosine,
                   CAST(row_number() OVER (
                     PARTITION BY q_id ORDER BY cosine DESC, vec_id
                   ) AS BIGINT) AS rank
            FROM s
            QUALIFY rank <= 5
        """)


def q_kmeans_assign(spark, sf_dir):
    # Lloyd's k-means fit (deterministic first-k seeding, 4 fixed
    # rounds), assignments under the final centroids
    emb = _t(spark, sf_dir, "embeddings")
    assign, _cents = similarity.kmeans_fit(emb, k=8, n_iter=4)
    return assign.select(F.col("id").alias("vec_id"), "cell_id")


register("kmeans_assign", q_kmeans_assign, lambda: similarity.kmeans_assign_oracle_sql(k=8, n_iter=4))


def q_cluster_purity(spark, sf_dir):
    """Cluster-quality evaluation: per-cluster majority-label purity
    of the k-means assignment against the embeddings' ground-truth
    labels — the standard external clustering metric (and the eval
    step after any semantic-dedup/topic-cluster fit).  The label
    histogram keys on (cell_id, label) — at most k x n_labels rows —
    so the argmax window and total join run on a relation the size
    of the label table, not the corpus; ties break to the lowest
    label deterministically."""
    emb = _t(spark, sf_dir, "embeddings")
    assign, _cents = similarity.kmeans_fit(emb, k=8, n_iter=4)
    j = assign.join(
        emb.select(F.col("vec_id").alias("_vid"), "label"),
        assign.id == F.col("_vid"),
    )
    # hist (<= k x n_labels rows) feeds the argmax window AND the
    # per-cell total — checkpoint or the assignment+join subtree
    # re-executes per consumer (lazy, GC-released)
    hist = (
        j.groupBy("cell_id", "label")
        .agg(F.count("*").alias("_n"))
        .localCheckpoint(eager=False)
    )
    win = W.partitionBy("cell_id").orderBy(
        F.col("_n").desc(), F.col("label").asc()
    )
    top = hist.withColumn("_rk", F.row_number().over(win)).filter(
        F.col("_rk") == 1
    )
    tot = hist.groupBy("cell_id").agg(F.sum("_n").alias("n"))
    return top.join(tot, on="cell_id").select(
        "cell_id",
        F.col("n").cast("bigint").alias("n"),
        F.col("label").alias("top_label"),
        F.col("_n").cast("bigint").alias("top_cnt"),
        F.round(
            F.col("_n").cast("double") / F.col("n").cast("double"), 9
        ).alias("purity"),
    )


register("cluster_purity", q_cluster_purity, lambda: f"""
        WITH hist AS (
          SELECT a.cell_id, e.label, count(*) AS hn
          FROM ({similarity.kmeans_assign_oracle_sql(k=8, n_iter=4)}) a
          JOIN embeddings e ON a.vec_id = e.vec_id
          GROUP BY a.cell_id, e.label
        ), top AS (
          SELECT cell_id, label AS top_label, hn AS top_cnt
          FROM hist
          QUALIFY row_number() OVER (
            PARTITION BY cell_id ORDER BY hn DESC, label ASC) = 1
        ), tot AS (
          SELECT cell_id, CAST(sum(hn) AS BIGINT) AS n
          FROM hist GROUP BY cell_id
        )
        SELECT top.cell_id, tot.n, top.top_label,
               CAST(top.top_cnt AS BIGINT) AS top_cnt,
               round(CAST(top.top_cnt AS DOUBLE) / CAST(tot.n AS DOUBLE), 9)
                 AS purity
        FROM top JOIN tot ON top.cell_id = tot.cell_id""")

_planes = np.random.default_rng(7).standard_normal((4, 64))

_plane_sql = [
    "[" + ", ".join(repr(float(x)) for x in _planes[b]) + "]" for b in range(4)
]

_bucket_sql = " + ".join(
    f"(CASE WHEN list_dot_product(v, {_plane_sql[b]}) >= 0 "
    f"THEN {2 ** b} ELSE 0 END)"
    for b in range(4)
)


def q_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    return similarity.lsh_topk(corpus, queries_df, k=5, nbits=4, dim=64)


register("lsh_topk", q_lsh_topk, lambda: f"""
        WITH base AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), bucketed AS (
          SELECT vec_id, v, {_bucket_sql} AS bucket FROM base
        ), q AS (
          SELECT vec_id AS q_id, v AS qv, bucket FROM bucketed WHERE vec_id < 3
        ), c AS (
          SELECT vec_id, v AS cv, bucket FROM bucketed WHERE vec_id >= 3
        ), s AS (
          SELECT q.q_id, c.vec_id,
                 list_dot_product(c.cv, q.qv)
                 / (sqrt(list_dot_product(c.cv, c.cv))
                    * sqrt(list_dot_product(q.qv, q.qv))) AS cosine
          FROM c JOIN q ON c.bucket = q.bucket
        )
        SELECT q_id, vec_id, cosine,
               CAST(row_number() OVER (
                 PARTITION BY q_id ORDER BY cosine DESC, vec_id
               ) AS BIGINT) AS rank
        FROM s
        QUALIFY rank <= 5
    """)


def q_random_projection(spark, sf_dir):
    """Sign-matrix random projection 64 -> 16 (llm/similarity.py
    random_projection): literal-inlined portable sign matrix, pure
    per-row codegen fold, serial-order sum replayed by the oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.random_projection(emb, out_dim=16, dim=64)


register("random_projection", q_random_projection, lambda: similarity.random_projection_oracle_sql(
    out_dim=16, dim=64
))


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (llm/similarity.py
    semantic_dedup): nearest-centroid cells (centroids = corpus
    vec_ids 3..10, same fixture as ivf_topk), then inside each cell
    drop every vector cosine-dominated (>= 0.2) by a lower id."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 11)).select(
        (F.col("vec_id") - 3).cast("int").alias("cell_id"),
        F.col("embedding").alias("cvec"),
    )
    return similarity.semantic_dedup(emb, centroids, threshold=0.2)


# semantic_dedup: same centroid fixture as ivf_topk (corpus vec_ids
# 3..10), identical expanded-L2 argmin assignment, then NOT EXISTS
# over the within-cell dominating-pair predicate.
register("semantic_dedup", q_semantic_dedup, """
        WITH cent AS (
          SELECT CAST(vec_id - 3 AS INT) AS cell_id,
                 CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id >= 3 AND vec_id < 11
        ), corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), assigned AS (
          SELECT vec_id, cell_id, v FROM (
            SELECT c.vec_id, ct.cell_id, c.v,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY list_dot_product(c.v, c.v)
                              - 2 * list_dot_product(c.v, ct.cv)
                              + list_dot_product(ct.cv, ct.cv),
                              ct.cell_id
                   ) AS rk
            FROM corpus c CROSS JOIN cent ct
          ) WHERE rk = 1
        )
        SELECT b.vec_id, b.cell_id
        FROM assigned b
        WHERE NOT EXISTS (
          SELECT 1 FROM assigned a
          WHERE a.cell_id = b.cell_id AND a.vec_id < b.vec_id
            AND list_cosine_similarity(a.v, b.v) >= 0.2
        )""")


def _pq_codebooks(emb):
    # codebooks = subvectors of corpus vec_ids 3..10 (same fixture
    # family as ivf_topk's centroids): 4 subspaces x 16 dims, 8 codes
    subs = F.array(*[
        F.struct(
            F.lit(m).cast("int").alias("sub_id"),
            F.slice(
                F.col("embedding").cast("array<double>"), m * 16 + 1, 16
            ).alias("cvec"),
        )
        for m in range(4)
    ])
    return (
        emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 11))
        .select(
            (F.col("vec_id") - 3).cast("int").alias("code"),
            F.explode(subs).alias("_s"),
        )
        .select("_s.sub_id", "code", "_s.cvec")
    )


def q_pq_encode(spark, sf_dir):
    """Product-quantization encoding (llm/similarity.py pq_encode):
    dim-64 corpus split into 4x16-dim subspaces, each subvector
    replaced by its nearest of 8 sub-codewords — the compact-code
    representation that makes a 100 TB ANN index fit in memory."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 3)
    return similarity.pq_encode(
        corpus, _pq_codebooks(emb), n_sub=4, sub_dim=16
    )


register("pq_encode", q_pq_encode, lambda: similarity.pq_encode_oracle_sql(n_sub=4, sub_dim=16))


def q_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes (llm/similarity.py
    pq_adc_topk): per-query (sub_id, code) lookup table quantized to
    integer 1e-9 units so the 4-way distance sum is exact int64."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 3)
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.pq_adc_topk(
        corpus, queries_df, _pq_codebooks(emb), n_sub=4, sub_dim=16, k=5
    )


register("pq_adc_topk", q_pq_adc_topk, lambda: similarity.pq_adc_topk_oracle_sql(n_sub=4, sub_dim=16, k=5))


def q_pq_refine_topk(spark, sf_dir):
    """Two-stage retrieval (llm/similarity.py pq_refine_topk):
    PQ/ADC shortlist of 20 then exact cosine re-rank to top-5 —
    the standard recall-recovery pattern over a compressed index."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 3)
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return similarity.pq_refine_topk(
        corpus, queries_df, _pq_codebooks(emb),
        n_sub=4, sub_dim=16, k=5, shortlist=20,
    )


register("pq_refine_topk", q_pq_refine_topk, lambda: similarity.pq_refine_topk_oracle_sql(
    n_sub=4, sub_dim=16, k=5, shortlist=20
))


def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining (llm/similarity.py
    hard_negatives): per query vector, the 5 most-similar corpus
    vectors with a DIFFERENT label — the broadcast brute-force scan
    with the label-mismatch predicate below the cosine fold.  Same
    q/corpus split convention as knn_cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    return similarity.hard_negatives(corpus, queries_df, k=5)


register("hard_negatives", q_hard_negatives, """
        WITH q AS (
          SELECT vec_id AS q_id, label AS q_label,
                 CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 3
        ), c AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id >= 3
        ), s AS (
          SELECT q_id, q_label, vec_id, label,
                 list_cosine_similarity(cv, qv) AS cosine
          FROM c CROSS JOIN q
          WHERE label <> q_label
        )
        SELECT q_id, q_label, vec_id, label, cosine,
               CAST(row_number() OVER (
                 PARTITION BY q_id ORDER BY cosine DESC, vec_id
               ) AS BIGINT) AS rank
        FROM s
        QUALIFY rank <= 5""")


def q_quantize_int8(spark, sf_dir):
    """Per-vector symmetric int8 quantization audit
    (llm/similarity.py quantize_int8): scale, exact-integer L1
    mass, saturated-lane count, and max reconstruction error for
    every embedding — scalar outputs so the oracle pins each lane
    without array serialization.  Zero-shuffle codegen scan."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.quantize_int8(emb, carry_cols=("label",))


register("quantize_int8", q_quantize_int8, similarity.quantize_int8_oracle_sql)


def q_ann_recall(spark, sf_dir):
    """ANN index evaluation: recall@5 of the IVF index against the
    exact brute-force cosine truth, per query and with both result
    sets produced by the same operators the standalone gates check
    (cell-probed ivf_topk vs cosine_topk).  The standard
    accuracy-vs-cost harness every ANN deployment needs; a left
    join on the (query, neighbor) key + one bounded aggregation."""
    truth = q_knn_cosine(spark, sf_dir).select("q_id", "vec_id")
    cand = q_ivf_topk(spark, sf_dir).select(
        F.col("q_id").alias("_q2"), F.col("vec_id").alias("_v2")
    )
    j = truth.join(
        cand,
        (truth.q_id == F.col("_q2")) & (truth.vec_id == F.col("_v2")),
        "left",
    )
    return j.groupBy("q_id").agg(
        F.sum(F.col("_v2").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("hits"),
        F.round(
            F.sum(F.col("_v2").isNotNull().cast("bigint")) / 5.0, 9
        ).alias("recall"),
    )


# ann_recall composes the two already-oracled retrieval replays as
# derived tables, so truth and candidates come from the exact SQL
# the standalone gates check
register("ann_recall", q_ann_recall, lambda: f"""
        SELECT t.q_id,
               CAST(count(c.vec_id) AS BIGINT) AS hits,
               round(count(c.vec_id) / 5.0, 9) AS recall
        FROM ({oracle_of("knn_cosine")}) t
        LEFT JOIN ({oracle_of("ivf_topk")}) c
          ON t.q_id = c.q_id AND t.vec_id = c.vec_id
        GROUP BY t.q_id""")


def q_dim_truncation_recall(spark, sf_dir):
    """Matryoshka-style dimension-truncation evaluation: top-5
    cosine neighbors computed on the first 32 of 64 dims, scored
    for recall against the full-dimension truth per query — the
    harness behind serving half-width embeddings for 2x memory/
    bandwidth savings.  Both sides run the same broadcast
    brute-force operator the knn gate checks."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    full = similarity.cosine_topk(corpus, queries_df, k=5).select(
        "q_id", "vec_id"
    )
    tq = queries_df.select(
        "q_id", F.slice(F.col("q_vec"), 1, 32).alias("q_vec")
    )
    tc = corpus.select(
        "vec_id", F.slice(F.col("embedding"), 1, 32).alias("embedding")
    )
    trunc = similarity.cosine_topk(tc, tq, k=5).select(
        F.col("q_id").alias("_q2"), F.col("vec_id").alias("_v2")
    )
    j = full.join(
        trunc,
        (full.q_id == F.col("_q2")) & (full.vec_id == F.col("_v2")),
        "left",
    )
    return j.groupBy("q_id").agg(
        F.sum(F.col("_v2").isNotNull().cast("bigint"))
        .cast("bigint")
        .alias("hits"),
        F.round(
            F.sum(F.col("_v2").isNotNull().cast("bigint")) / 5.0, 9
        ).alias("recall_at_5"),
    )


register("dim_truncation_recall", q_dim_truncation_recall, """
        WITH q AS (
          SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 3
        ), c AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id >= 3
        ), full5 AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   CAST(row_number() OVER (
                     PARTITION BY q_id
                     ORDER BY list_cosine_similarity(cv, qv) DESC, vec_id
                   ) AS BIGINT) AS rank
            FROM c CROSS JOIN q
          ) WHERE rank <= 5
        ), t5 AS (
          SELECT q_id, vec_id FROM (
            SELECT q.q_id, c.vec_id,
                   CAST(row_number() OVER (
                     PARTITION BY q.q_id
                     ORDER BY list_cosine_similarity(c.cv[1:32], q.qv[1:32])
                       DESC, c.vec_id
                   ) AS BIGINT) AS rank
            FROM c CROSS JOIN q
          ) WHERE rank <= 5
        )
        SELECT f.q_id,
               CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS hits,
               round(CAST(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0
                              END) AS BIGINT) / CAST(5 AS DOUBLE), 9)
                 AS recall_at_5
        FROM full5 f
        LEFT JOIN t5 t ON t.q_id = f.q_id AND t.vec_id = f.vec_id
        GROUP BY f.q_id""")


def _kc_d2(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )


_kc_ctes = [
    """WITH v AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(round(x * 1000000) AS BIGINT)) AS q
          FROM embeddings
        ), c1 AS (SELECT vec_id, q FROM v ORDER BY vec_id LIMIT 1)""",
    f""", d1 AS (
          SELECT v.vec_id, v.q, {_kc_d2("v.q", "c1.q")} AS d
          FROM v CROSS JOIN c1
        ), c2 AS (SELECT vec_id, q, d FROM d1 ORDER BY d DESC, vec_id
                  LIMIT 1)""",
]
for _r in (3, 4, 5):
    _prev_d, _dn, _cn = f"d{_r - 2}", f"d{_r - 1}", f"c{_r}"
    _kc_ctes.append(
        f""", {_dn} AS (
          SELECT {_prev_d}.vec_id, {_prev_d}.q,
                 least({_prev_d}.d,
                       {_kc_d2(_prev_d + ".q", "c" + str(_r - 1) + ".q")})
                   AS d
          FROM {_prev_d} CROSS JOIN c{_r - 1}
        ), {_cn} AS (SELECT vec_id, q, d FROM {_dn}
                     ORDER BY d DESC, vec_id LIMIT 1)"""
    )


def q_kcenter_coreset(spark, sf_dir):
    """Greedy k-center coreset over the embedding table — the
    diversity-based data-selection pass (pick the 5 mutually
    farthest vectors as exemplars).  Distances are EXACT int64
    squared L2 over 1e6-quantized lanes (|q| <= ~5.3e5 keeps the
    64-dim sum near 7e13, inside int64), so the per-round argmax
    is a deterministic integer comparison — no cross-engine float
    tie can flip a selection.  Each round is one distributed
    TakeOrdered over the corpus with the selected centers embedded
    as literal arrays (the kmeans literal-centroid pattern); only
    k rows ever reach the driver, as control flow
    (llm/similarity.py kcenter_greedy)."""
    emb = _t(spark, sf_dir, "embeddings")
    sel = similarity.kcenter_greedy(emb, k=5, scale=1_000_000)
    return spark.createDataFrame(
        sel, "round long, vec_id long, d2_to_set long"
    )


register("kcenter_coreset", q_kcenter_coreset, lambda: "".join(_kc_ctes)
    + """
        SELECT CAST(1 AS BIGINT) AS round, vec_id,
               CAST(0 AS BIGINT) AS d2_to_set
        FROM c1
        UNION ALL SELECT CAST(2 AS BIGINT), vec_id, d FROM c2
        UNION ALL SELECT CAST(3 AS BIGINT), vec_id, d FROM c3
        UNION ALL SELECT CAST(4 AS BIGINT), vec_id, d FROM c4
        UNION ALL SELECT CAST(5 AS BIGINT), vec_id, d FROM c5""")


def q_mrr_eval(spark, sf_dir):
    """Mean-reciprocal-rank harness for the IVF index: per query,
    where does the TRUE nearest neighbor (brute-force rank 1) land
    in the IVF top-5?  Reciprocal ranks are exact integers in
    1/2520 units (2520 = lcm(1..10), so 2520/rank is exact for any
    retrieval depth up to 10) — the scaled-integer discipline that
    keeps the metric order-independent; the one division happens
    per row at the end.  A miss scores 0, kept as its own flag
    column.  Composes the two already-oracled retrieval replays
    (knn_cosine truth, ivf_topk candidates) like ann_recall does."""
    truth1 = (
        q_knn_cosine(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("q_id", "vec_id")
    )
    cand = q_ivf_topk(spark, sf_dir).select(
        F.col("q_id").alias("_q2"),
        F.col("vec_id").alias("_v2"),
        F.col("rank").alias("_rank"),
    )
    j = truth1.join(
        cand,
        (truth1.q_id == F.col("_q2")) & (truth1.vec_id == F.col("_v2")),
        "left",
    )
    rr_units = F.coalesce(
        F.expr("CAST(2520 div _rank AS BIGINT)"), F.lit(0).cast("bigint")
    )
    return j.select(
        "q_id",
        F.col("_rank").cast("bigint").alias("found_rank"),
        rr_units.alias("rr_units"),
        F.round(rr_units.cast("double") / F.lit(2520.0), 9).alias("rr"),
    )


# mrr_eval composes the two already-oracled retrieval replays, the
# ann_recall pattern; reciprocal rank in exact 1/2520 units
register("mrr_eval", q_mrr_eval, lambda: f"""
        SELECT t.q_id,
               CAST(c.rank AS BIGINT) AS found_rank,
               CAST(coalesce(2520 // c.rank, 0) AS BIGINT) AS rr_units,
               round(CAST(coalesce(2520 // c.rank, 0) AS DOUBLE)
                     / 2520.0, 9) AS rr
        FROM ({oracle_of("knn_cosine")}) t
        LEFT JOIN ({oracle_of("ivf_topk")}) c
          ON t.q_id = c.q_id AND t.vec_id = c.vec_id
        WHERE t.rank = 1""")


def q_map_eval(spark, sf_dir):
    """MAP@5 of the IVF index against the brute-force truth —
    the order-sensitive retrieval metric completing recall@5
    (ann_recall) and MRR (mrr_eval).  Average precision per query
    uses exact 1/60 units (60 = lcm(1..5), so rel_i * 60 *
    hits_i / i is a pure integer for every cutoff i): ap_units =
    sum_i rel_i * (60 * hits_i div i), AP = units / (60 * R).  The
    per-query cumulative hit count is a 5-row window per query —
    hash-partitioned by query id, bounded partitions."""
    truth = q_knn_cosine(spark, sf_dir).select(
        F.col("q_id").alias("_qt"), F.col("vec_id").alias("_vt")
    )
    cand = q_ivf_topk(spark, sf_dir).select("q_id", "vec_id", "rank")
    j = cand.join(
        truth,
        (cand.q_id == F.col("_qt")) & (cand.vec_id == F.col("_vt")),
        "left",
    ).select(
        "q_id",
        "rank",
        F.col("_vt").isNotNull().cast("bigint").alias("_rel"),
    )
    w = W.partitionBy("q_id").orderBy("rank")
    d = j.select(
        "q_id",
        "rank",
        "_rel",
        F.sum("_rel").over(w).cast("bigint").alias("_hits"),
    )
    unit = F.col("_rel") * F.expr(
        "CAST((60 * _hits) div rank AS BIGINT)"
    )
    return d.groupBy("q_id").agg(
        F.max("_hits").cast("bigint").alias("n_rel"),
        F.sum(unit).cast("bigint").alias("ap_units"),
        F.round(
            F.sum(unit).cast("double")
            / F.nullif(
                (F.lit(60) * F.max("_hits")).cast("double"), F.lit(0.0)
            ),
            9,
        ).alias("ap"),
    )


register("map_eval", q_map_eval, lambda: f"""
        WITH t AS ({oracle_of("knn_cosine")}),
        c AS ({oracle_of("ivf_topk")}),
        j AS (
          SELECT c.q_id, c.rank,
                 CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
          FROM c LEFT JOIN t
            ON t.q_id = c.q_id AND t.vec_id = c.vec_id
        ), d AS (
          SELECT q_id, rank, rel,
                 CAST(sum(rel) OVER (
                   PARTITION BY q_id ORDER BY rank
                 ) AS BIGINT) AS hits
          FROM j
        )
        SELECT q_id,
               CAST(max(hits) AS BIGINT) AS n_rel,
               CAST(sum(rel * ((60 * hits) // rank)) AS BIGINT)
                 AS ap_units,
               round(CAST(sum(rel * ((60 * hits) // rank)) AS DOUBLE)
                     / nullif(CAST(60 * max(hits) AS DOUBLE), 0.0), 9)
                 AS ap
        FROM d GROUP BY q_id""")

_pca_ctes = ["""
        WITH x AS (
          SELECT vec_id, CAST(d AS BIGINT) AS d,
                 CAST(round(emb[d] * 1000000) AS BIGINT) AS xu
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings),
               unnest(generate_series(1, 8)) AS u(d)
        ), s AS (
          SELECT d, sum(CAST(xu AS HUGEINT)) AS S,
                 CAST(count(*) AS BIGINT) AS n
          FROM x GROUP BY d
        ), mm AS (
          SELECT a.d AS d1, b.d AS d2,
                 sum(CAST(a.xu AS HUGEINT) * CAST(b.xu AS HUGEINT)) AS M
          FROM x a JOIN x b ON a.vec_id = b.vec_id
          GROUP BY 1, 2
        ), cmat AS MATERIALIZED (
          SELECT mm.d1, mm.d2,
                 CASE WHEN (s1.n * mm.M - s1.S * s2.S) < 0
                      THEN -CAST(abs(s1.n * mm.M - s1.S * s2.S) // s1.n
                                 AS BIGINT)
                      ELSE CAST(abs(s1.n * mm.M - s1.S * s2.S) // s1.n
                                AS BIGINT) END AS c
          FROM mm JOIN s s1 ON s1.d = mm.d1 JOIN s s2 ON s2.d = mm.d2
        ), v0 AS (
          SELECT d AS j, CAST(1000000 AS BIGINT) AS v FROM s
        )"""]
for _r in range(1, 9):
    _pca_ctes.append(f""", raw{_r} AS MATERIALIZED (
          SELECT d1, sum(CAST(c AS HUGEINT) * v{_r - 1}.v) AS raw
          FROM cmat JOIN v{_r - 1} ON v{_r - 1}.j = cmat.d2
          GROUP BY d1
        ), m{_r} AS (
          SELECT max(abs(raw)) AS m FROM raw{_r}
        ), v{_r} AS (
          SELECT d1 AS j,
                 CASE WHEN raw < 0
                      THEN -CAST((abs(raw) * 1000000) // m AS BIGINT)
                      ELSE CAST((abs(raw) * 1000000) // m AS BIGINT)
                 END AS v
          FROM raw{_r}, m{_r}
        )""")


def q_pca_power_iteration(spark, sf_dir):
    """Dominant principal component of the first 8 embedding
    dimensions via power iteration on an EXACT integer covariance
    matrix — the registry's first linear-algebra shape: embedding
    values quantize to 1e-6 units, the raw/product moments
    accumulate as DECIMAL(38,0) (the corr_matrix discipline, so
    the scaled covariance n^2*cov = n*M - S1*S2 is order-exact),
    and each of the 8 unrolled iterations is an 8x8
    matrix-vector product over integers with a sign*(abs div
    maxabs) renormalization — truncation spelled identically in
    both engines because Spark div truncates while DuckDB //
    floors.  Every intermediate is an integer, so the result is
    bit-equal under ANY partitioning even before convergence.  At
    100 TB the covariance build is one pair-exploded aggregation
    (64 cells); the iteration moves 8-row tables."""
    D, VS, ROUNDS = 8, 10**6, 8
    dec = "decimal(38,0)"
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.posexplode(F.slice("embedding", 1, D)).alias("_p", "_xf"),
    ).select(
        "vec_id",
        (F.col("_p") + 1).cast("bigint").alias("d"),
        F.round(F.col("_xf").cast("double") * VS)
        .cast("bigint")
        .alias("xu"),
    )
    s = x.groupBy("d").agg(
        F.sum(F.col("xu").cast(dec)).alias("S"),
        F.count("*").cast("bigint").alias("n"),
    )
    xa = x.select(
        "vec_id", F.col("d").alias("d1"), F.col("xu").alias("x1")
    )
    xb = x.select(
        "vec_id", F.col("d").alias("d2"), F.col("xu").alias("x2")
    )
    mm = (
        xa.join(xb, "vec_id")
        .groupBy("d1", "d2")
        .agg(F.sum((F.col("x1") * F.col("x2")).cast(dec)).alias("M"))
    )
    sa = s.select(F.col("d").alias("d1"), F.col("S").alias("S1"), "n")
    sb = s.select(F.col("d").alias("d2"), F.col("S").alias("S2"))
    cmat = (
        mm.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .select(
            "d1",
            "d2",
            F.expr(
                "CASE WHEN (n * M - S1 * S2) < 0 THEN "
                "-CAST(abs(n * M - S1 * S2) div n AS BIGINT) "
                "ELSE CAST(abs(n * M - S1 * S2) div n AS BIGINT) END"
            ).alias("c"),
        )
    )
    # the distributed part ends at the D*D exact covariance — the
    # iteration itself moves 64 rows to the driver and runs in
    # python ints (the kmeans/kcenter bounded-collect precedent;
    # arbitrary-precision, so it reproduces HUGEINT semantics
    # exactly), which beats 8 rounds of 8-row Spark jobs
    cells = {(r.d1, r.d2): int(r.c) for r in cmat.collect()}
    v = {d: VS for d in range(1, D + 1)}
    for _ in range(ROUNDS):
        raw = {
            i: sum(cells[(i, j)] * v[j] for j in range(1, D + 1))
            for i in range(1, D + 1)
        }
        m = max(abs(x) for x in raw.values())
        v = {
            i: (-((-x if x < 0 else x) * VS // m) if x < 0
                else (x * VS // m))
            for i, x in raw.items()
        }
    return spark.createDataFrame(
        sorted(v.items()), "d bigint, v_units bigint"
    )


register("pca_power_iteration", q_pca_power_iteration, lambda: "".join(_pca_ctes)
    + """
        SELECT j AS d, v AS v_units FROM v8""")


def q_spatial_eps_pairs(spark, sf_dir):
    """2-D spatial self-join (llm/similarity.grid_eps_pairs): all
    embedding pairs within L2 eps = 0.05 in the first two
    dimensions via uniform grid bucketing — each point owns ONE
    eps-sized cell, one side explodes to its 3x3 neighborhood
    (fan-out 9, the 2-D analog of range_join_buckets' interval
    explosion), a hash equi-join on the cell key, then an exact
    integer distance gate.  The DBSCAN region-query / spatial-join
    pattern; completeness because pairs within eps differ by <= 1
    cell per axis."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.grid_eps_pairs(emb, eps_units=50_000)


register("spatial_eps_pairs", q_spatial_eps_pairs, lambda: similarity.grid_eps_pairs_oracle_sql(
    eps_units=50_000
))

_mmr_rounds = []
for _r in range(2, 5):
    _prev = " UNION ALL ".join(
        f"SELECT vec_id FROM s{_j}" for _j in range(1, _r)
    )
    _mmr_rounds.append(f""", p{_r} AS ({_prev}
        ), m{_r} AS (
          SELECT p.da AS vec_id, max(p.s) AS ms
          FROM psim p WHERE p.db IN (SELECT vec_id FROM p{_r})
          GROUP BY 1
        ), s{_r} AS (
          SELECT {_r} AS sel_rank, c2.vec_id,
                 CAST(0.7 AS DOUBLE) * c2.rel
                 - CAST(0.3 AS DOUBLE) * m.ms AS mmr_score
          FROM cand c2 JOIN m{_r} m ON m.vec_id = c2.vec_id
          WHERE c2.vec_id NOT IN (SELECT vec_id FROM p{_r})
          ORDER BY CAST(0.7 AS DOUBLE) * c2.rel
                   - CAST(0.3 AS DOUBLE) * m.ms DESC, c2.vec_id
          LIMIT 1
        )""")


def q_mmr_diversify(spark, sf_dir):
    """Maximal Marginal Relevance diversified top-4 (Carbonell &
    Goldstein 1998) over the embedding corpus — the
    redundancy-aware re-ranker between ANN retrieval and a RAG
    context window: candidates are the brute-force top-12 by
    9-digit-ROUNDED cosine to the vec_id=0 probe (the cut itself
    ranks on the rounded value with vec_id tie-break, so the
    candidate SET is cross-engine deterministic), then 4 unrolled
    greedy rounds
    pick argmax 0.7·rel − 0.3·max_{s∈S} sim(d, s).  Relevance and
    pairwise similarities are rounded to 9 digits FIRST (the
    scene_cuts discipline — Spark's fold and DuckDB's
    list_cosine_similarity agree to ~1e-16, the 1e-9 grid makes
    the argmax inputs identical), so every selection compares
    identical doubles with vec_id tie-break.  All joins are over
    the bounded 12-row candidate frame; rounds are unrolled, not
    iterative.  Returns (sel_rank, vec_id, mmr_score)."""
    emb = _t(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    # the top-12 candidate CUT itself ranks on the
    # 9-digit-ROUNDED cosine with vec_id tie-break — the same
    # discipline already applied to rel and the pairwise sims —
    # so a ~1e-16 cross-engine cosine difference at the 12/13
    # boundary cannot select different candidate sets.  (The
    # previous cosine_topk call ranked on the unrounded value.)
    from openseize_spark.llm.similarity import _dot, _norm

    _qv = probe.select(
        F.col("q_id"),
        F.col("q_vec").cast("array<double>").alias("_qv"),
    )
    _scored = (
        corpus.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("_cv"),
        )
        .crossJoin(F.broadcast(_qv))
        .select(
            "vec_id",
            "q_id",
            F.round(
                _dot(F.col("_cv"), F.col("_qv"))
                / (_norm(F.col("_cv")) * _norm(F.col("_qv"))),
                9,
            ).alias("_rel"),
        )
    )
    _wc = W.partitionBy("q_id").orderBy(
        F.desc("_rel"), F.col("vec_id")
    )
    cand = (
        _scored.withColumn("_rk", F.row_number().over(_wc))
        .filter(F.col("_rk") <= 12)
        .select("vec_id", "_rel")
        .localCheckpoint(eager=False)  # rounds + pair sims
    )
    cv = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("_v")
    ).join(F.broadcast(cand.select("vec_id")), on="vec_id")
    cv2 = cv.select(
        F.col("vec_id").alias("_vid2"), F.col("_v").alias("_v2")
    )
    from openseize_spark.llm.similarity import _dot, _norm

    psim = (
        cv.join(
            F.broadcast(cv2), F.col("_vid2") != F.col("vec_id")
        )
        .select(
            F.col("vec_id").alias("_da"),
            F.col("_vid2").alias("_db"),
            F.round(
                _dot(F.col("_v"), F.col("_v2"))
                / (_norm(F.col("_v")) * _norm(F.col("_v2"))),
                9,
            ).alias("_s"),
        )
        .localCheckpoint(eager=False)  # consumed by rounds 2..4
    )
    lam, oml = F.lit(0.7), F.lit(0.3)

    def pick(selected, rnd):
        """One MMR round: argmax 0.7·rel − 0.3·maxsim over the
        unselected candidates (selected is a bounded id frame)."""
        if selected is None:
            scored = cand.select(
                "vec_id",
                (lam * F.col("_rel") - oml * F.lit(0.0)).alias("_sc"),
            )
        else:
            sel_ids = selected.select(
                F.col("vec_id").alias("_sid")
            )
            ms = (
                psim.join(
                    F.broadcast(sel_ids),
                    psim["_db"] == F.col("_sid"),
                )
                .groupBy("_da")
                .agg(F.max("_s").alias("_ms"))
            )
            scored = (
                cand.join(
                    F.broadcast(selected.select("vec_id")),
                    on="vec_id",
                    how="left_anti",
                )
                .join(
                    F.broadcast(ms),
                    cand["vec_id"] == ms["_da"],
                )
                .select(
                    "vec_id",
                    (lam * F.col("_rel") - oml * F.col("_ms")).alias(
                        "_sc"
                    ),
                )
            )
        best = scored.agg(
            F.min(
                F.struct(
                    (-F.col("_sc")).alias("_nsc"),
                    F.col("vec_id").alias("vec_id"),
                )
            ).alias("_b")
        ).select(
            F.lit(rnd).cast("int").alias("sel_rank"),
            F.col("_b.vec_id").alias("vec_id"),
            (-F.col("_b._nsc")).alias("mmr_score"),
        )
        return best.localCheckpoint(eager=False)

    s1 = pick(None, 1)
    s2 = pick(s1, 2)
    s3 = pick(s1.unionByName(s2), 3)
    s4 = pick(s1.unionByName(s2).unionByName(s3), 4)
    return (
        s1.unionByName(s2).unionByName(s3).unionByName(s4)
    )


register("mmr_diversify", q_mmr_diversify, lambda: """
        WITH q AS (
          SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0
        ), c AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id >= 3
        ), cand AS MATERIALIZED (
          -- r14 (ADVICE): the cut ranks on the ROUNDED cosine with
          -- vec_id tie-break, mirroring the engine exactly
          SELECT vec_id, rel FROM (
            SELECT vec_id,
                   round(list_cosine_similarity(cv, qv), 9) AS rel,
                   row_number() OVER (
                     ORDER BY round(list_cosine_similarity(cv, qv), 9)
                              DESC, vec_id
                   ) AS rk
            FROM c CROSS JOIN q
          ) WHERE rk <= 12
        ), psim AS MATERIALIZED (
          SELECT a.vec_id AS da, b.vec_id AS db,
                 round(list_cosine_similarity(ca.cv, cb.cv), 9) AS s
          FROM cand a
          JOIN c ca ON ca.vec_id = a.vec_id
          JOIN cand b ON b.vec_id != a.vec_id
          JOIN c cb ON cb.vec_id = b.vec_id
        ), s1 AS (
          SELECT 1 AS sel_rank, vec_id,
                 CAST(0.7 AS DOUBLE) * rel
                 - CAST(0.3 AS DOUBLE) * CAST(0.0 AS DOUBLE)
                   AS mmr_score
          FROM cand
          ORDER BY CAST(0.7 AS DOUBLE) * rel
                   - CAST(0.3 AS DOUBLE) * CAST(0.0 AS DOUBLE) DESC,
                   vec_id
          LIMIT 1
        )"""
    + "".join(_mmr_rounds)
    + """
        SELECT CAST(sel_rank AS INT) AS sel_rank, vec_id, mmr_score
        FROM (
          SELECT * FROM s1
          UNION ALL SELECT * FROM s2
          UNION ALL SELECT * FROM s3
          UNION ALL SELECT * FROM s4
        )
    """)

"""Similarity search over embedding columns (ARRAY<FLOAT>).

- ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set, dot products via JVM higher-order functions (zip_with + aggregate),
  per-query top-k via window row_number.  At 100 TB the scan side streams;
  only queries × k rows shuffle.
- ``lsh_buckets`` / ``lsh_topk`` — random-hyperplane LSH: b sign-bits from
  fixed seeded hyperplanes -> bucket id; candidates = bucket equi-join,
  exact re-rank inside buckets.  The scale path: the join is on a short
  key, no cross product.
- ``embedding_cosine_dedup`` — near-dup removal at cosine >= threshold via
  LSH buckets.

All vector math stays in Spark SQL expressions (no UDF): for dim ~100-2k,
aggregate() over zip_with() is adequate; a Pandas-UDF batched BLAS variant
is provided for wide embeddings (``cosine_topk_pandas``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return emb.withColumn("_norm", _norm(F.col(vec_col).cast("array<double>")))


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact brute-force top-k neighbors for each query vector.

    Returns (q_id, vec_id, cosine, rank).  Query side is broadcast; the
    corpus is scanned once; ties broken by vec_id for determinism.
    """
    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    q = queries.select(
        F.col(q_id_col), F.col(q_vec_col).cast("array<double>").alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    j = e.crossJoin(F.broadcast(q)).withColumn(
        "cosine", _dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", "rank")
    )


def cosine_topk_pandas(
    emb: DataFrame,
    query_vectors: np.ndarray,
    query_ids: list,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """BLAS-batched exact top-k: queries as a closure ndarray (broadcast),
    per-Arrow-batch matmul, per-partition partial top-k, final top-k by
    aggregation — the scan never shuffles full similarity rows."""
    qm = np.asarray(query_vectors, dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    qm = qm / np.where(qn == 0, 1, qn)
    qids = list(query_ids)

    schema = "q_id long, vec_id long, cosine double"

    def _topk(it):
        for pdf in it:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(M, axis=1, keepdims=True)
            M = M / np.where(n == 0, 1, n)
            S = M @ qm.T  # (rows, nq)
            kk = min(k, S.shape[0])
            idx = np.argpartition(-S, kk - 1, axis=0)[:kk]
            out = []
            ids = pdf[id_col].to_numpy()
            for qi in range(S.shape[1]):
                rows = idx[:, qi]
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": qids[qi],
                            "vec_id": ids[rows],
                            "cosine": S[rows, qi],
                        }
                    )
                )
            yield pd.concat(out)

    partial = emb.select(id_col, vec_col).mapInPandas(_topk, schema)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def lsh_buckets(
    emb: DataFrame,
    nbits: int = 8,
    dim: int | None = None,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector (sign bits of nbits
    fixed seeded Gaussian projections).  Hyperplanes are generated
    driver-side (tiny) and inlined as array literals -> codegen dot
    products, deterministic across runs.

    ``dim`` is required: inferring it would need a driver-side action
    (a .first() scan) inside a builder — at scale the embedding dimension
    is schema metadata the caller already knows."""
    if dim is None:
        raise ValueError(
            "lsh_buckets requires dim (the embedding dimension); inferring "
            "it would run a driver-side job inside the plan builder"
        )
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((nbits, dim))
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("bigint")
    for b in range(nbits):
        plane = F.array(*[F.lit(float(x)) for x in planes[b]])
        bit = F.when(_dot(v, plane) >= 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bucket + bit * (2**b)
    return emb.withColumn("bucket", bucket)


def _rp_signs(out_dim: int, dim: int, seed: str) -> list[list[float]]:
    """±1 sign matrix from a portable md5 parity — identical on any
    engine/driver, no stored state."""
    import hashlib

    return [
        [
            float(
                (int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[0], 16) % 2)
                * 2
                - 1
            )
            for d in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    emb: DataFrame,
    out_dim: int,
    dim: int,
    seed: str = "rp",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic sign-matrix random projection (Achlioptas-style):
    output component j is sum_d s(j,d) * v[d] / sqrt(out_dim) with
    s(j,d) in {+1,-1} from a portable md5 parity, inlined as literal
    arrays (like the LSH hyperplanes) so the plan is a pure per-row
    codegen projection — no shuffle, no UDF, no stored matrix.  The
    standard cheap dimensionality reduction in front of ANN/clustering
    at corpus scale; distances are preserved within the usual JL
    distortion.  The per-component sum is a serial index-order fold,
    replayed exactly by the SQL oracle.

    Returns (id, j, y) — one row per output component."""
    signs = _rp_signs(out_dim, dim, seed)
    scale = float(np.sqrt(out_dim))
    v = F.col(vec_col).cast("array<double>")
    comps = []
    for j in range(out_dim):
        s = F.array(*[F.lit(x) for x in signs[j]])
        y = F.aggregate(
            F.zip_with(v, s, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) / F.lit(scale)
        comps.append(F.struct(F.lit(j).cast("int").alias("j"), y.alias("y")))
    return emb.select(
        F.col(id_col), F.explode(F.array(*comps)).alias("_c")
    ).select(id_col, F.col("_c.j").alias("j"), F.col("_c.y").alias("y"))


def random_projection_oracle_sql(
    out_dim: int, dim: int, seed: str = "rp"
) -> str:
    """DuckDB replay: identical sign literals, identical 0.0-seeded
    index-ascending fold (list_prepend mirrors Spark's aggregate init)."""
    from openseize_spark.plans.oracles import dlit

    signs = _rp_signs(out_dim, dim, seed)
    rows = ", ".join(
        "({}, [{}])".format(j, ", ".join(str(x) for x in signs[j]))
        for j in range(out_dim)
    )
    scale = float(np.sqrt(out_dim))
    return f"""
        WITH sgn(j, s) AS (VALUES {rows}),
        v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
        )
        SELECT vec_id, CAST(sgn.j AS INTEGER) AS j,
               list_reduce(
                 list_prepend(0.0,
                   [ev[i] * s[i] for i in generate_series(1, {dim})]),
                 (a, b) -> a + b) / {dlit(scale)} AS y
        FROM v, sgn"""


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 8,
    dim: int | None = None,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: exact re-rank within the query's LSH bucket.
    Recall is tunable via nbits (fewer bits = bigger buckets)."""
    eb = lsh_buckets(emb, nbits, dim, seed, vec_col, id_col)
    qb = lsh_buckets(
        queries.withColumnRenamed(q_vec_col, vec_col), nbits, dim, seed, vec_col, q_id_col
    ).withColumnRenamed(vec_col, q_vec_col)
    e = eb.select(
        "bucket", F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    q = qb.select(
        "bucket", F.col(q_id_col), F.col(q_vec_col).cast("array<double>").alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    j = e.join(F.broadcast(q), on="bucket").withColumn(
        "cosine", _dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", "rank")
    )


def cosine_near_dup(
    emb: DataFrame,
    threshold: float = 0.99,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) with a < b
    and cosine >= threshold, candidate pairs blocked by `block_col` (a
    coarse-quantizer cell / cluster id) so the join is an equi-join on
    the block key, never corpus-quadratic.  For unclustered corpora use
    lsh_buckets() to derive the block column first.
    """
    e = emb.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_n", _norm(F.col("_v")))
    a = e.select(
        "_blk", F.col(id_col).alias("a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    b = e.select(
        "_blk", F.col(id_col).alias("b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    return (
        a.join(b, on="_blk")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cosine", _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_id_col: str = "cell_id",
    cvec_col: str = "cvec",
) -> DataFrame:
    """Assign each vector to its nearest centroid (coarse quantizer of an
    IVF index).  Centroids are tiny and broadcast; distance is squared L2
    via the dot-product identity d2 = <v,v> - 2<v,c> + <c,c> so both the
    Spark and the SQL-oracle sides accumulate in identical order.
    Returns the input plus (_v, cell_id) columns.

    Round-15 shape change (same values): the former row_number window
    over the ncells-way crossJoin SHUFFLED AND SORTED the ncells-times-
    amplified corpus just to pick each vector's minimum.  The argmin is
    now ``min(struct(_d2, cell_id, <payload>))`` — struct ordering
    compares d2 first, then cell_id, exactly the old ``orderBy(_d2,
    cell_id) rk = 1`` rule, and (d2, cell_id) is unique per vector so
    the payload fields are never compared — whose partial aggregation
    collapses the amplification MAP-SIDE (the crossJoin keeps each
    vector's ncells rows consecutive in one partition), so the exchange
    moves one row per vector instead of ncells sorted rows.  Caveat
    inherited from min(): every carried input column must be an
    orderable type (arrays/atomics are; maps are not)."""
    e = emb.withColumn("_v", F.col(vec_col).cast("array<double>"))
    c = centroids.select(
        F.col(cell_id_col), F.col(cvec_col).cast("array<double>").alias("_c")
    )
    j = e.crossJoin(F.broadcast(c)).withColumn(
        "_d2",
        _dot(F.col("_v"), F.col("_v"))
        - 2 * _dot(F.col("_v"), F.col("_c"))
        + _dot(F.col("_c"), F.col("_c")),
    )
    payload = [x for x in emb.columns if x != id_col] + ["_v"]
    ag = j.groupBy(id_col).agg(
        F.min(F.struct("_d2", cell_id_col, *payload)).alias("_b")
    )
    return ag.select(
        id_col,
        *[F.col(f"_b.{x}").alias(x) for x in payload],
        F.col(f"_b.{cell_id_col}").alias(cell_id_col),
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF approximate nearest neighbors: corpus vectors are bucketed by
    nearest centroid once (the inverted file); each query probes its
    `nprobe` nearest cells and re-ranks exactly by cosine within them.

    The corpus↔query match is an equi-join on cell_id (shuffle on a
    small int key; the probe side is broadcast), never corpus-quadratic —
    the standard IVF trade: recall vs nprobe/ncells.  Returns
    (q_id, vec_id, cosine, rank).
    """
    inv = ivf_assign(emb, centroids, vec_col, id_col).select(
        "cell_id", F.col(id_col), "_v"
    ).withColumn("_n", _norm(F.col("_v")))

    qe = queries.withColumn("_qv", F.col(q_vec_col).cast("array<double>"))
    c = centroids.select("cell_id", F.col("cvec").cast("array<double>").alias("_c"))
    qj = qe.crossJoin(F.broadcast(c)).withColumn(
        "_d2",
        _dot(F.col("_qv"), F.col("_qv"))
        - 2 * _dot(F.col("_qv"), F.col("_c"))
        + _dot(F.col("_c"), F.col("_c")),
    )
    wq = Window.partitionBy(q_id_col).orderBy("_d2", "cell_id")
    probes = (
        qj.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= nprobe)
        .select("cell_id", F.col(q_id_col), "_qv")
        .withColumn("_qn", _norm(F.col("_qv")))
    )
    j = inv.join(F.broadcast(probes), on="cell_id").withColumn(
        "cosine", _dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", "rank")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    every vector to its nearest centroid (the coarse k-means step), then
    inside each cell drop any vector whose cosine to a LOWER-id cell-mate
    is >= ``threshold`` — keeping exactly one representative (the
    smallest id) per semantic near-duplicate group.

    Scale shape: assignment is the broadcast-centroid argmin projection
    (see :func:`ivf_assign` — no shuffle beyond the scan); the pair
    search is an equi-join on cell_id, so the quadratic term is bounded
    by the largest cell, never the corpus.  The survivor filter is a
    LEFT ANTI join on the dominated ids — at 100 TB both shuffles key on
    (cell_id) / (id), no skew beyond cluster imbalance, which the
    centroid count controls.

    Returns the surviving (id, cell_id) rows.
    """
    assigned = (
        ivf_assign(emb, centroids, vec_col, id_col)
        .select("cell_id", F.col(id_col), "_v")
        .withColumn("_n", _norm(F.col("_v")))
        # THREE consumers below (both pair-join sides + the survivor
        # anti-join's left side) each re-executed the whole
        # scan+assignment pipeline (6 corpus scans in the plan, zero
        # ReusedExchange).  One lazy checkpoint materializes the
        # assignment once; blocks are GC-released with the plan
        # (round 15; the sosfiltfilt forward-output precedent for
        # corpus-sized intermediates — MEMORY_AND_DISK, spills safely)
        .localCheckpoint(eager=False)
    )
    a = assigned.select(
        "cell_id",
        F.col(id_col).alias("a"),
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = assigned.select(
        "cell_id",
        F.col(id_col).alias("b"),
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    dominated = (
        a.join(b, on="cell_id")
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "cosine",
            _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return assigned.join(dominated, on=id_col, how="left_anti").select(
        id_col, "cell_id"
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    sub_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., PQ for ANN): split
    each vector into ``n_sub`` contiguous ``sub_dim``-wide subvectors
    and replace each with the id of its nearest sub-codeword.  A
    dim-1536 float corpus compresses to ``n_sub`` small ints per vector
    — at 100 TB this is the difference between an index that fits in
    cluster memory and one that doesn't.

    ``codebooks`` is (sub_id, code, cvec: array<double>) — k codewords
    per subspace, tiny, broadcast.  Distances use the expanded
    d2 = <v,v> - 2<v,c> + <c,c> form so the SQL oracle accumulates in
    the same order; ties break on the lower code.

    Scale shape: one explode to (vector, subspace) rows (n_sub-fold,
    bounded), a broadcast equi-join on sub_id, a per-(id, sub_id) argmin
    window — no corpus-wide shuffle other than the window's hash
    exchange on the (id, sub_id) key space.

    Returns (id, sub_id, code).
    """
    v = F.col(vec_col).cast("array<double>")
    subs = F.array(*[
        F.struct(
            F.lit(m).cast("int").alias("sub_id"),
            F.slice(v, m * sub_dim + 1, sub_dim).alias("sv"),
        )
        for m in range(n_sub)
    ])
    e = emb.select(F.col(id_col), F.explode(subs).alias("_s")).select(
        id_col, F.col("_s.sub_id").alias("sub_id"), F.col("_s.sv").alias("_sv")
    )
    c = codebooks.select(
        "sub_id", "code", F.col("cvec").cast("array<double>").alias("_c")
    )
    j = e.join(F.broadcast(c), on="sub_id").withColumn(
        "_d2",
        _dot(F.col("_sv"), F.col("_sv"))
        - 2 * _dot(F.col("_sv"), F.col("_c"))
        + _dot(F.col("_c"), F.col("_c")),
    )
    w = Window.partitionBy(id_col, "sub_id").orderBy("_d2", "code")
    return (
        j.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, "sub_id", "code")
    )


def pq_adc_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    sub_dim: int,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus is
    represented only by its codes; each query precomputes a
    (sub_id, code) -> partial-d2 lookup table against the codebooks,
    and a candidate's approximate distance is the sum of n_sub table
    entries.  The classic memory/recall trade of IVF-PQ indexes, here
    as pure DataFrame ops.

    Scale shape: codes are (corpus × n_sub) narrow rows; the lookup
    table is (queries × n_sub × k) — broadcast; the join keys on
    (sub_id, code) so the per-row work is a hash probe, and the
    per-(q, vec) distance is one groupBy sum over exactly n_sub rows.
    Returns (q_id, vec_id, approx_d2, rank).
    """
    codes = pq_encode(emb, codebooks, n_sub, sub_dim, vec_col, id_col)
    qv = F.col(q_vec_col).cast("array<double>")
    qsubs = F.array(*[
        F.struct(
            F.lit(m).cast("int").alias("sub_id"),
            F.slice(qv, m * sub_dim + 1, sub_dim).alias("sv"),
        )
        for m in range(n_sub)
    ])
    qe = queries.select(F.col(q_id_col), F.explode(qsubs).alias("_s")).select(
        q_id_col, F.col("_s.sub_id").alias("sub_id"), F.col("_s.sv").alias("_qsv")
    )
    c = codebooks.select(
        "sub_id", "code", F.col("cvec").cast("array<double>").alias("_c")
    )
    # partial distances quantized to integer 1e-9 units so the n_sub-way
    # sum is exact int64 — float summation order cannot reorder ranks
    lut = qe.join(F.broadcast(c), on="sub_id").select(
        q_id_col,
        "sub_id",
        "code",
        F.round(
            (
                _dot(F.col("_qsv"), F.col("_qsv"))
                - 2 * _dot(F.col("_qsv"), F.col("_c"))
                + _dot(F.col("_c"), F.col("_c"))
            )
            * 1e9,
            0,
        )
        .cast("bigint")
        .alias("_pd2u"),
    )
    j = codes.join(F.broadcast(lut), on=["sub_id", "code"])
    d = j.groupBy(q_id_col, id_col).agg(
        (F.sum("_pd2u").cast("double") / F.lit(1e9)).alias("approx_d2"),
        F.count("*").alias("_nparts"),
    )
    # a row with fewer than n_sub parts would mean a missing LUT entry
    w = Window.partitionBy(q_id_col).orderBy("approx_d2", F.col(id_col))
    return (
        d.filter(F.col("_nparts") == n_sub)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "approx_d2", "rank")
    )


def pq_refine_topk(
    emb: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    n_sub: int,
    sub_dim: int,
    k: int = 5,
    shortlist: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Two-stage retrieval: PQ/ADC shortlist, exact re-rank — the
    standard recall-recovery pattern over a compressed index.  Stage 1
    (:func:`pq_adc_topk`) touches only the codes; stage 2 fetches full
    vectors for ``shortlist`` candidates per query (a semi-join-sized
    read, not a scan) and re-ranks them by exact cosine.

    Scale shape: the expensive exact math runs on queries x shortlist
    rows only; the candidate fetch is an equi-join on the vector id.
    Returns (q_id, vec_id, cosine, rank).
    """
    cand = pq_adc_topk(
        emb, queries, codebooks, n_sub, sub_dim, k=shortlist,
        vec_col=vec_col, id_col=id_col, q_id_col=q_id_col, q_vec_col=q_vec_col,
    ).select(q_id_col, id_col)
    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).withColumn("_n", _norm(F.col("_v")))
    qv = queries.select(
        F.col(q_id_col), F.col(q_vec_col).cast("array<double>").alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    j = (
        cand.join(e, on=id_col)
        .join(F.broadcast(qv), on=q_id_col)
        .withColumn(
            "cosine",
            _dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn")),
        )
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(q_id_col, id_col, "cosine", "rank")
    )


def _sql_sdot(a: str, b: str, dim: int) -> str:
    """DuckDB serial-fold dot product, bit-identical to Spark's
    aggregate(zip_with(...), 0.0, acc + x): 0.0-seeded left fold in
    index order (cf. random_projection_oracle_sql)."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"[{a}[i] * {b}[i] for i in generate_series(1, {dim})]), "
        f"(x, y) -> x + y)"
    )


def _pq_ctes(n_sub: int, sub_dim: int) -> str:
    """Shared CTE chain: corpus subvectors, codebooks from corpus
    vec_ids 3..10, and the per-(vector, subspace) nearest-code
    assignment — d2 in the same expanded serial-fold form as Spark."""
    subs = ", ".join(str(m) for m in range(n_sub))
    d2 = (
        _sql_sdot("s.sv", "s.sv", sub_dim)
        + " - 2 * " + _sql_sdot("s.sv", "cb.cv", sub_dim)
        + " + " + _sql_sdot("cb.cv", "cb.cv", sub_dim)
    )
    return f"""
        WITH corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), sub AS (
          SELECT vec_id, CAST(m.m AS INT) AS sub_id,
                 v[(m.m * {sub_dim} + 1):(m.m * {sub_dim} + {sub_dim})] AS sv
          FROM corpus, unnest([{subs}]) AS m(m)
          WHERE vec_id >= 3
        ), cb AS (
          SELECT sub_id, CAST(vec_id - 3 AS INT) AS code, sv AS cv
          FROM sub WHERE vec_id >= 3 AND vec_id < 11
        ), enc AS (
          SELECT vec_id, sub_id, code FROM (
            SELECT s.vec_id, s.sub_id, cb.code,
                   row_number() OVER (
                     PARTITION BY s.vec_id, s.sub_id
                     ORDER BY {d2}, cb.code
                   ) AS rk
            FROM sub s JOIN cb USING (sub_id)
          ) WHERE rk = 1
        )"""


def pq_encode_oracle_sql(n_sub: int, sub_dim: int) -> str:
    """DuckDB SQL equal to the pq_encode gate query (codebooks = corpus
    vec_ids 3..10, corpus = vec_id >= 3)."""
    return _pq_ctes(n_sub, sub_dim) + "\n        SELECT vec_id, sub_id, code FROM enc"


def pq_refine_topk_oracle_sql(
    n_sub: int, sub_dim: int, k: int, shortlist: int
) -> str:
    """DuckDB SQL equal to the pq_refine_topk gate query: the ADC
    shortlist replay wrapped as a CTE, then exact cosine re-rank."""
    inner = pq_adc_topk_oracle_sql(n_sub, sub_dim, shortlist)
    return f"""
        WITH cand AS ({inner})
        SELECT q_id, vec_id, cosine,
               CAST(row_number() OVER (
                 PARTITION BY q_id ORDER BY cosine DESC, vec_id
               ) AS BIGINT) AS rank
        FROM (
          SELECT c.q_id, c.vec_id,
                 list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(qe.embedding AS DOUBLE[])
                 ) AS cosine
          FROM cand c
          JOIN embeddings e ON e.vec_id = c.vec_id
          JOIN embeddings qe ON qe.vec_id = c.q_id
        )
        QUALIFY rank <= {k}"""


def pq_adc_topk_oracle_sql(n_sub: int, sub_dim: int, k: int) -> str:
    """DuckDB SQL equal to the pq_adc_topk gate query: LUT partial
    distances quantized to integer 1e-9 units, exact int64 sum, rank
    over the deterministic approx distance."""
    subs = ", ".join(str(m) for m in range(n_sub))
    qd2 = (
        _sql_sdot("q.sv", "q.sv", sub_dim)
        + " - 2 * " + _sql_sdot("q.sv", "cb.cv", sub_dim)
        + " + " + _sql_sdot("cb.cv", "cb.cv", sub_dim)
    )
    return _pq_ctes(n_sub, sub_dim) + f""", qsub AS (
          SELECT vec_id AS q_id, CAST(m.m AS INT) AS sub_id,
                 v[(m.m * {sub_dim} + 1):(m.m * {sub_dim} + {sub_dim})] AS sv
          FROM corpus, unnest([{subs}]) AS m(m)
          WHERE vec_id < 3
        ), lut AS (
          SELECT q.q_id, q.sub_id, cb.code,
                 CAST(round(({qd2}) * 1e9) AS BIGINT) AS pd2u
          FROM qsub q JOIN cb USING (sub_id)
        ), d AS (
          SELECT lut.q_id, enc.vec_id,
                 CAST(CAST(sum(lut.pd2u) AS BIGINT) AS DOUBLE) / 1e9
                   AS approx_d2
          FROM enc JOIN lut ON enc.sub_id = lut.sub_id
                           AND enc.code = lut.code
          GROUP BY lut.q_id, enc.vec_id
          HAVING count(*) = {n_sub}
        )
        SELECT q_id, vec_id, approx_d2,
               CAST(row_number() OVER (
                 PARTITION BY q_id ORDER BY approx_d2, vec_id
               ) AS BIGINT) AS rank
        FROM d
        QUALIFY rank <= {k}"""


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over an embedding column, DataFrame-native.

    Returns ``(assignments, centroids)``: ``(id, cell_id)`` for every
    corpus vector under the final centroids, and ``(cell_id, cvec)``.

    Deterministic and SQL-replayable by construction: initial centroids
    are the ``k`` vectors with the smallest ids (cell_id = their rank),
    and the iteration count is fixed, so the DuckDB oracle can unroll
    the same ``n_iter`` assign/re-average rounds as a CTE chain.

    Scale shape: centroids ship in the UDF closure (k x dim doubles —
    the same bytes a cluster-mode broadcast would move), so ASSIGNMENT
    is a pure projection: one Arrow-batched BLAS argmin over
    ||x||^2 - 2 x.C^T + ||c||^2 per batch — no join, no k-fold row
    amplification, no shuffle.  (An earlier version built the centroids
    as k*dim literal expressions and ran an interpreted higher-order-
    function argmin per row; Catalyst re-analyzes that expression tree
    every iteration and HOFs never enter codegen, which made plan
    compile — not data — the dominant cost.  The batched BLAS form is
    the documented wide-vector fast path, cf. ``cosine_topk_pandas``.)
    Re-averaging is one posexplode + two-level groupBy whose map-side
    partial agg bounds the shuffle at k*dim rows per task.  Per
    iteration: one scan, one shuffle, one k*dim-size driver collect
    (control flow only).  The working set (id, v) is persisted across
    the n_iter scans — the standard iterative-algorithm pattern; at
    cluster scale this is MEMORY_AND_DISK and bounded by the corpus
    projection, not the full table.  A cell that loses all members
    drops out (standard Lloyd's behavior, mirrored by the oracle's
    inner join).
    """
    from openseize_spark.session import persisted

    e = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )

    def _assign(cents):
        cells = np.array([cid for cid, _ in cents], dtype=np.int64)
        C = np.array([vec for _, vec in cents], dtype=np.float64)
        cnorm = (C * C).sum(axis=1)

        @F.pandas_udf("int")
        def _cell(s: pd.Series) -> pd.Series:
            if not len(s):
                return pd.Series(np.zeros(0, dtype=np.int32))
            X = np.stack(s.to_numpy()).astype(np.float64)
            # same expanded form the SQL oracle uses; argmin takes the
            # first (= lowest cell_id) on exact ties, matching the
            # oracle's (distance, cell_id) ordering
            d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + cnorm[None, :]
            return pd.Series(cells[np.argmin(d, axis=1)].astype(np.int32))

        return e.select("id", "v", _cell("v").alias("cell_id"))

    with persisted(e):
        seed = e.orderBy("id").limit(k).collect()
        cents = [(i, list(r.v)) for i, r in enumerate(seed)]
        for _ in range(n_iter):
            a = _assign(cents)
            # collect the k*dim (cell, pos, avg) rows straight from the
            # first-level aggregate and assemble vectors driver-side: the
            # former second groupBy (collect_list + array_sort per cell)
            # added one exchange per iteration purely to reshape k*dim rows
            # the driver was about to collect anyway (round 15; the avg
            # values are the identical partial/final aggregate either way)
            newc = (
                a.select("cell_id", F.posexplode("v").alias("pos", "val"))
                .groupBy("cell_id", "pos")
                .agg(F.avg("val").alias("val"))
            )
            bycell: dict[int, dict[int, float]] = {}
            for r in newc.collect():
                bycell.setdefault(r.cell_id, {})[r.pos] = r.val
            cents = sorted(
                (cid, [d[p] for p in sorted(d)]) for cid, d in bycell.items()
            )

    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "cell_id int, cvec array<double>"
    )
    # the cache served the n_iter re-averaging jobs; the final lazy
    # assignment recomputes from source (one scan) rather than pinning
    # executor memory for the caller's lifetime
    assignments = _assign(cents).select("id", "cell_id")
    return assignments, cdf


def kmeans_assign_oracle_sql(k: int = 8, n_iter: int = 4) -> str:
    """DuckDB SQL equal to kmeans_fit(...)[0]: the same deterministic
    seeding and fixed iteration count, unrolled as a CTE chain."""
    ctes = [
        """corpus AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell_id,
                 v AS cv
          FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT {k})
        )""".format(k=k)
    ]
    for t in range(n_iter):
        ctes.append(
            """a{t} AS (
          SELECT vec_id, cell_id, v FROM (
            SELECT c.vec_id, ct.cell_id, c.v,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY list_dot_product(c.v, c.v)
                              - 2 * list_dot_product(c.v, ct.cv)
                              + list_dot_product(ct.cv, ct.cv),
                              ct.cell_id
                   ) AS rk
            FROM corpus c CROSS JOIN c{t} ct
          ) WHERE rk = 1
        ), cf{t} AS (
          SELECT cell_id, u.i AS pos, AVG(v[u.i]) AS val
          FROM a{t}, unnest(generate_series(1, length(v))) AS u(i)
          GROUP BY cell_id, u.i
        ), c{t1} AS (
          SELECT cell_id, list(val ORDER BY pos) AS cv FROM cf{t} GROUP BY cell_id
        )""".format(t=t, t1=t + 1)
        )
    final = """
        SELECT vec_id, cell_id FROM (
          SELECT c.vec_id, ct.cell_id,
                 row_number() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY list_dot_product(c.v, c.v)
                            - 2 * list_dot_product(c.v, ct.cv)
                            + list_dot_product(ct.cv, ct.cv),
                            ct.cell_id
                 ) AS rk
          FROM corpus c CROSS JOIN c{n} ct
        ) WHERE rk = 1""".format(n=n_iter)
    return "WITH " + ",\n        ".join(ctes) + final


# --------------------------------------------------------- hard negatives
def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the ``k`` most-similar corpus vectors carrying a DIFFERENT label —
    near the decision boundary by construction, the negatives that
    actually move a contrastive loss (easy random negatives contribute
    ~zero gradient).

    ``queries`` needs (q_id, q_vec, q_label).  Same plan as
    :func:`cosine_topk` — queries broadcast, corpus scanned once — with
    the label-mismatch predicate evaluated before the cosine so
    same-label pairs never reach the fold.  Returns (q_id, q_label,
    vec_id, label, cosine, rank).
    """
    e = emb.select(
        F.col(id_col),
        F.col(label_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_n", _norm(F.col("_v")))
    q = queries.select(
        "q_id", "q_label", F.col("q_vec").cast("array<double>").alias("_qv")
    ).withColumn("_qn", _norm(F.col("_qv")))
    j = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col(label_col) != F.col("q_label"))
        .withColumn(
            "cosine", _dot(F.col("_v"), F.col("_qv")) / (F.col("_n") * F.col("_qn"))
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        j.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "q_label", id_col, label_col, "cosine", "rank")
    )


# ------------------------------------------------------- int8 quantization
def quantize_int8(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the compression
    step an ANN serving index applies before sharding (4x smaller than
    float32, SIMD-dot-friendly).  Per vector: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` (zero vectors quantize to zeros).

    Emits scalar per-vector stats instead of the int8 array so the
    result is engine-comparable: the quantized L1 mass (exact int64),
    the count of saturated lanes (|q| = 127), and the max absolute
    reconstruction error — enough to pin every q_i through the oracle
    without serializing arrays.  Pure codegen array expressions, zero
    shuffle, pushdown-friendly."""
    xs = F.col(vec_col).cast("array<double>")
    maxabs = F.array_max(F.transform(xs, F.abs))
    scale = maxabs / F.lit(127.0)
    qv = F.transform(
        xs,
        lambda x: F.when(maxabs == 0, F.lit(0.0)).otherwise(
            F.round(x / scale, 0)
        ),
    )
    err = F.zip_with(xs, qv, lambda x, qi: F.abs(x - qi * scale))
    return emb.select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        F.round(scale, 9).alias("scale"),
        F.aggregate(
            qv, F.lit(0).cast("bigint"), lambda acc, qi: acc + F.abs(qi).cast("bigint")
        ).alias("q_l1"),
        F.aggregate(
            qv,
            F.lit(0).cast("bigint"),
            lambda acc, qi: acc + (F.abs(qi) == 127).cast("bigint"),
        ).alias("n_sat"),
        F.round(F.array_max(err), 9).alias("err_max"),
    )


def quantize_int8_oracle_sql() -> str:
    """DuckDB replay of :func:`quantize_int8` over ``embeddings`` —
    identical max/127 scale, round-half-away lanes, BIGINT-cast sums."""
    return """
        WITH v AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS xs
          FROM embeddings
        ), s AS (
          SELECT vec_id, label, xs,
                 list_max(list_transform(xs, x -> abs(x))) / 127.0 AS sc
          FROM v
        ), qd AS (
          SELECT vec_id, label, sc, xs,
                 list_transform(
                   xs, x -> CASE WHEN sc = 0 THEN 0.0
                                 ELSE round(x / sc, 0) END) AS qv
          FROM s
        )
        SELECT vec_id, label,
               round(sc, 9) AS scale,
               CAST(list_sum(list_transform(qv, q -> CAST(abs(q) AS BIGINT)))
                    AS BIGINT) AS q_l1,
               CAST(list_sum(list_transform(
                 qv, q -> CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END))
                    AS BIGINT) AS n_sat,
               round(list_max(
                 list_transform(list_zip(xs, qv),
                                p -> abs(p[1] - p[2] * sc))), 9) AS err_max
        FROM qd"""


def kcenter_greedy(
    emb: DataFrame,
    k: int = 5,
    scale: int = 1_000_000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[tuple[int, int, int]]:
    """Greedy k-center selection (Gonzalez) with EXACT integer
    distances: lanes quantize to ``round(x * scale)`` int64 and the
    squared L2 accumulates as int64, so every farthest-point argmax is
    a deterministic integer comparison — no cross-engine or
    partition-order float tie can change the selection.

    Returns ``[(round, id, d2_to_prior_set), ...]`` (k entries; the
    seed — the minimum id — carries distance 0).  Each round is one
    distributed TakeOrdered over the corpus with the selected centers
    embedded as literal arrays (the kmeans literal-centroid pattern);
    only k rows ever reach the driver, as control flow.

    Scale note: |q| <= scale * max|x|; with unit-norm-ish embeddings at
    scale=1e6 the 64-dim squared sum stays near 7e13 — far inside
    int64.  Reference analog: diversity-based exemplar selection
    (coreset construction) over an embedding table.
    """
    # materialize the quantized working set once: every greedy round is
    # a TakeOrdered over it, and without this each of the k rounds
    # re-scanned the parquet source and re-quantized all lanes
    # (round-14, guide §1.2 don't-recompute; the checkpoint blocks die
    # with this function's frame — k rounds, one pass over the data)
    v = emb.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform(cast({vec_col} as array<double>), "
            f"x -> cast(round(x * {scale}) as bigint))"
        ).alias("q"),
    ).localCheckpoint(eager=True)
    seed = v.orderBy("vec_id").limit(1).collect()[0]
    sel = [(1, int(seed.vec_id), 0)]
    sel_vecs = [list(seed.q)]
    for r in range(2, k + 1):
        d_exprs = []
        for qv in sel_vecs:
            lit_arr = F.array(*[F.lit(int(x)) for x in qv])
            d_exprs.append(
                F.aggregate(
                    F.zip_with(
                        F.col("q"), lit_arr, lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
            )
        mind = d_exprs[0] if len(d_exprs) == 1 else F.least(*d_exprs)
        far = (
            v.select("vec_id", "q", mind.alias("d2"))
            .orderBy(F.desc("d2"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        sel.append((r, int(far.vec_id), int(far.d2)))
        sel_vecs.append(list(far.q))
    return sel


def grid_eps_pairs(
    emb: DataFrame,
    eps_units: int = 50_000,
    scale: int = 10**6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All point pairs within L2 distance eps in the first two embedding
    dimensions, via uniform grid bucketing — the spatial self-join /
    DBSCAN region-query pattern: each point lands in ONE eps-sized grid
    cell, one side explodes to its 3x3 cell neighborhood (bounded
    fan-out 9), the join is a plain hash equi-join on the cell key, and
    an exact integer distance check finishes.  Any pair within eps has
    cell coordinates differing by at most 1 on each axis, so the
    candidate set is complete; each qualifying pair appears exactly
    once (the plain side owns one cell, a < b on ids).  Contrast with
    the 1-D time bucketing of relational.range_join_buckets and the
    LSH/IVF buckets in this module: same no-all-pairs discipline, 2-D
    geometry.

    Coordinates quantize to 1/scale units; the cell index is an
    EXPLICIT floor division valid for any sign — ``u DIV e`` minus one
    when the remainder is nonzero and u is negative (r11 advice fix:
    the previous ``(u + 2*scale) DIV e`` shift relied on an implicit
    [-2, ...) input domain, and coordinates below -2 would mis-bucket
    via DIV's truncation toward zero, silently dropping qualifying
    pairs).  Returns (a, b, d2u) with d2u the exact squared integer
    distance (<= eps_units^2).
    """

    def _floor_div(col: str, e: int) -> str:
        # floor(u / e) for e > 0, any-sign u, in pure int64 arithmetic
        return (
            f"({col} DIV {e}) - (CASE WHEN {col} % {e} <> 0 "
            f"AND {col} < 0 THEN 1 ELSE 0 END)"
        )
    pts = emb.select(
        F.col(id_col).alias("_id"),
        F.round(
            F.expr(f"CAST(element_at({vec_col}, 1) AS DOUBLE)") * scale
        )
        .cast("bigint")
        .alias("xu"),
        F.round(
            F.expr(f"CAST(element_at({vec_col}, 2) AS DOUBLE)") * scale
        )
        .cast("bigint")
        .alias("yu"),
    ).withColumn(
        "_cx", F.expr(_floor_div("xu", eps_units))
    ).withColumn(
        "_cy", F.expr(_floor_div("yu", eps_units))
    )
    left = (
        pts.withColumn("_dx", F.expr("explode(array(-1, 0, 1))"))
        .withColumn("_dy", F.expr("explode(array(-1, 0, 1))"))
        .select(
            F.col("_id").alias("a"),
            F.col("xu").alias("xa"),
            F.col("yu").alias("ya"),
            (F.col("_cx") + F.col("_dx")).alias("_jx"),
            (F.col("_cy") + F.col("_dy")).alias("_jy"),
        )
    )
    right = pts.select(
        F.col("_id").alias("b"),
        F.col("xu").alias("xb"),
        F.col("yu").alias("yb"),
        F.col("_cx").alias("_jx"),
        F.col("_cy").alias("_jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        left.join(right, ["_jx", "_jy"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("d2u", d2.cast("bigint"))
        .filter(F.col("d2u") <= eps_units * eps_units)
        .select("a", "b", "d2u")
    )


def grid_eps_pairs_oracle_sql(
    eps_units: int = 50_000, scale: int = 10**6
) -> str:
    """DuckDB replay of ``grid_eps_pairs``: the operator is exact, so
    the oracle is the naive all-pairs distance filter."""
    return f"""
        WITH p AS (
          SELECT vec_id,
                 CAST(round(emb[1] * {scale}) AS BIGINT) AS xu,
                 CAST(round(emb[2] * {scale}) AS BIGINT) AS yu
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings)
        )
        SELECT a.vec_id AS a, b.vec_id AS b,
               CAST((a.xu - b.xu) * (a.xu - b.xu)
                    + (a.yu - b.yu) * (a.yu - b.yu) AS BIGINT) AS d2u
        FROM p a JOIN p b ON a.vec_id < b.vec_id
        WHERE (a.xu - b.xu) * (a.xu - b.xu)
              + (a.yu - b.yu) * (a.yu - b.yu)
              <= {eps_units * eps_units}
    """

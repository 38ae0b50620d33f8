"""Mergeable counting sketches for corpus statistics at 100 TB.

Count-Min (Cormode & Muthukrishnan 2005): a depth x width grid of
counters; each item increments one counter per row (row-salted hash),
a point estimate is the MIN over rows — always an overestimate, with
error <= eps * total_count at probability 1 - delta for
width = e/eps, depth = ln(1/delta).

Why it matters at scale: the sketch is a *mergeable partial aggregate* —
per-partition sketches combine by cell-wise addition, so the shuffle
carries depth*width counters per partition instead of the vocabulary.
Spark's partial+final hash aggregation does the merge for free because
the sketch IS a groupBy((row, bucket)) count.

Why these sketches are oracle-checkable when engine-private ones
(approx_count_distinct, approx_percentile) are not: hash placement is
the same portable salted md5 the sampling family uses, so DuckDB
replays the exact same grid/registers — the "approximation" is
deterministic given the hash functions, only its *relation to the true
count* is probabilistic.  The HyperLogLog below applies the identical
trick to distinct counting.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openseize_spark.llm.sampling import salted_hash, salted_hash_sql
from openseize_spark.llm.text import _token_rows, _token_rows_sql


def _bucket_py(word: str, row: int, width: int, seed: str) -> int:
    """Driver-side replica of the row-salted bucket hash (same md5 form
    as sampling.salted_hash, so Spark / DuckDB / Python agree)."""
    h = int(hashlib.md5(f"{seed}:{row}:{word}".encode()).hexdigest()[:8], 16)
    return h % width


def countmin_sketch(
    docs: DataFrame,
    depth: int = 4,
    width: int = 256,
    text_col: str = "text",
    seed: str = "cm",
) -> DataFrame:
    """Build the Count-Min grid over the corpus token stream.

    One explode to tokens, one generated ``depth``-way explode to grid
    cells, one groupBy((row, bucket)) count — map-side partial combine
    bounds the shuffle at depth*width rows per task regardless of
    corpus size.  Returns (row, bucket, cnt), at most depth*width rows.
    """
    wc = _word_counts(docs, text_col)
    return _sketch_from_word_counts(wc, depth, width, seed)


def _word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return (
        _token_rows(docs, text_col, "_w")
        .groupBy("_w")
        .agg(F.count("*").cast("bigint").alias("_c"))
    )


def _sketch_from_word_counts(
    wc: DataFrame, depth: int, width: int, seed: str
) -> DataFrame:
    # hash per DISTINCT word weighted by its count, not per token — the
    # md5 work drops from O(tokens) to O(vocabulary) and the cell counts
    # are identical
    cells = wc.select(
        "_c",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        (salted_hash(F.col("_w"), f"{seed}:{r}") % width)
                        .cast("int")
                        .alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    )
    return (
        cells.select("cell.row", "cell.bucket", "_c")
        .groupBy("row", "bucket")
        .agg(F.sum("_c").cast("bigint").alias("cnt"))
    )


def countmin_estimate(
    docs: DataFrame,
    probe_words: list[str],
    depth: int = 4,
    width: int = 256,
    text_col: str = "text",
    seed: str = "cm",
) -> DataFrame:
    """Point-estimate probe: sketch the corpus, then estimate the count
    of each probe word as min over rows of its cell, next to the exact
    count.  est >= exact always (Count-Min never under-counts).

    The probe table is built driver-side (the bucket hash is plain md5,
    computed identically in Python) and broadcast — the sketch side is
    at most depth*width rows, so the whole estimate join is broadcast
    territory.  Returns (word, est, exact).
    """
    spark = docs.sparkSession
    # the word-count table feeds both the sketch and the exact counts;
    # checkpoint so the corpus explode runs once (GC-released)
    wc = _word_counts(docs, text_col).localCheckpoint(eager=False)
    sk = _sketch_from_word_counts(wc, depth, width, seed)
    probes = spark.createDataFrame(
        [
            (w, r, _bucket_py(w, r, width, seed))
            for w in probe_words
            for r in range(depth)
        ],
        "word string, row int, bucket int",
    )
    est = (
        probes.join(sk, on=["row", "bucket"], how="left")
        .na.fill({"cnt": 0})
        .groupBy("word")
        .agg(F.min("cnt").cast("bigint").alias("est"))
    )
    exact = wc.select(F.col("_w").alias("word"), F.col("_c").alias("exact"))
    return (
        est.join(exact, on="word", how="left")
        .na.fill({"exact": 0})
        .select("word", "est", "exact")
    )


def countmin_estimate_oracle_sql(
    probe_words: list[str],
    depth: int = 4,
    width: int = 256,
    seed: str = "cm",
) -> str:
    """DuckDB replay of :func:`countmin_estimate`: the same salted-md5
    grid placement, min-over-rows estimate, and exact counts."""
    arms = "\n          UNION ALL ".join(
        f"SELECT {r} AS row, ({salted_hash_sql('w', f'{seed}:{r}')}) % {width}"
        f" AS bucket FROM toks" for r in range(depth)
    )
    probes = ", ".join(
        f"('{w.replace(chr(39), chr(39) * 2)}', {r}, {_bucket_py(w, r, width, seed)})"
        for w in probe_words
        for r in range(depth)
    )
    return f"""
        WITH toks AS MATERIALIZED ({_token_rows_sql("")}), cells AS (
          {arms}
        ), sk AS (
          SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
          FROM cells GROUP BY row, bucket
        ), probes (word, row, bucket) AS (VALUES {probes}),
        est AS (
          SELECT word, CAST(min(COALESCE(sk.cnt, 0)) AS BIGINT) AS est
          FROM probes LEFT JOIN sk USING (row, bucket)
          GROUP BY word
        ), exact AS (
          SELECT w AS word, CAST(count(*) AS BIGINT) AS exact
          FROM toks GROUP BY w
        )
        SELECT est.word, est.est, COALESCE(exact.exact, 0) AS exact
        FROM est LEFT JOIN exact USING (word)"""


# ------------------------------------------------------------ HyperLogLog
# Flajolet et al. 2007 bias-correction constants for small m; m >= 128
# uses the asymptotic formula.
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _hll_alpha(m: int) -> float:
    return _HLL_ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def hll_sketch(
    df: DataFrame, col: str, b: int = 5, seed: str = "hll"
) -> DataFrame:
    """HyperLogLog register table for ``col``: ``(bucket, m_j)`` with
    ``m_j`` = max over the bucket's items of the 1-based position of the
    first set bit in the low ``32 - b`` hash bits.

    Same determinism contract as the Count-Min grid above: the salted
    md5 hash makes register contents an exact, engine-independent
    function of the data — the *sketch* is oracle-checkable even though
    its relation to the true cardinality is probabilistic (this is why
    this HLL is gate-testable while Spark's approx_count_distinct, with
    its private hash, is not).

    Scale shape: registers are a mergeable partial aggregate —
    ``groupBy(bucket).max`` combines map-side, so the shuffle carries at
    most ``2^b`` rows per partition no matter how many distinct values
    the 100-TB scan holds.  The first-set-bit rank is derived from the
    length of ``bin()``'s minimal binary string — identical in Spark
    and DuckDB, no float log2 at bit boundaries.
    """
    rest_bits = 32 - b
    h = salted_hash(F.col(col), seed)
    bucket = (h / (1 << rest_bits)).cast("bigint").alias("bucket")
    rest = (h % (1 << rest_bits)).alias("_rest")
    rho = (
        F.when(F.col("_rest") == 0, F.lit(rest_bits + 1))
        .otherwise(F.lit(rest_bits + 1) - F.length(F.bin(F.col("_rest"))))
        .alias("_rho")
    )
    return (
        df.select(bucket, rest)
        .select("bucket", rho)
        .groupBy("bucket")
        .agg(F.max("_rho").cast("bigint").alias("m_j"))
    )


def hll_estimate(
    df: DataFrame, col: str, b: int = 5, seed: str = "hll"
) -> DataFrame:
    """One-row HyperLogLog cardinality estimate for ``col`` alongside
    the exact distinct count — the accuracy-validation shape the
    Count-Min probes use.

    The harmonic-mean denominator sums ``2^(32-m_j)`` in exact int64
    (register ranks are <= 28 + the 2^32 contribution of each empty
    register), so the only float steps are one multiply and one divide
    from identical integers — bit-equal across engines.  The
    small-range linear-counting branch (raw <= 2.5m with empty
    registers) takes one natural log; the estimate is rounded to 6
    digits to absorb libm's last-ulp there.  32-bit-hash large-range
    correction is irrelevant at corpus scales << 2^32/30.
    """
    m = 1 << b
    alpha = _hll_alpha(m)
    sk = hll_sketch(df, col, b=b, seed=seed)
    agg = sk.agg(
        F.count("*").alias("_npresent"),
        F.sum(F.pow(F.lit(2.0), 32 - F.col("m_j")).cast("bigint")).alias("_sp"),
    )
    exact = df.agg(F.countDistinct(col).cast("bigint").alias("exact_distinct"))
    one = agg.crossJoin(F.broadcast(exact))
    sum_units = (
        F.col("_sp") + (F.lit(m) - F.col("_npresent")) * F.lit(1 << 32)
    ).cast("bigint")
    n_empty = (F.lit(m) - F.col("_npresent")).cast("bigint")
    raw = F.lit(alpha * m * m * float(1 << 32)) / F.col("sum_units")
    est = F.when(
        (F.col("n_empty") > 0) & (raw <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_empty")),
    ).otherwise(raw)
    return (
        one.select(
            F.lit(m).cast("bigint").alias("m"),
            n_empty.alias("n_empty"),
            sum_units.alias("sum_units"),
            "exact_distinct",
        )
        .withColumn("est_distinct", F.round(est, 6))
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ),
        )
    )


def hll_estimate_oracle_sql(
    col: str = "user_id",
    table: str = "events",
    b: int = 5,
    seed: str = "hll",
) -> str:
    """DuckDB replay of :func:`hll_estimate`: same registers from the
    same salted hash, same exact-int64 harmonic denominator, same
    correction branch."""
    m = 1 << b
    rest_bits = 32 - b
    alpha = _hll_alpha(m)
    h = salted_hash_sql(col, seed)
    return f"""
        WITH hx AS (
          SELECT {h} // {1 << rest_bits} AS bucket,
                 {h} % {1 << rest_bits} AS rest
          FROM {table}
        ), regs AS (
          SELECT bucket,
                 CAST(max(CASE WHEN rest = 0 THEN {rest_bits + 1}
                               ELSE {rest_bits + 1} - length(bin(rest))
                          END) AS BIGINT) AS m_j
          FROM hx GROUP BY bucket
        ), agg AS (
          SELECT count(*) AS npresent,
                 CAST(sum(CAST(pow(2.0, 32 - m_j) AS BIGINT)) AS BIGINT) AS sp
          FROM regs
        ), ex AS (
          SELECT CAST(count(DISTINCT {col}) AS BIGINT) AS exact_distinct
          FROM {table}
        ), one AS (
          SELECT CAST({m} AS BIGINT) AS m,
                 CAST({m} - npresent AS BIGINT) AS n_empty,
                 CAST(sp + ({m} - npresent) * (1::BIGINT << 32) AS BIGINT)
                   AS sum_units,
                 exact_distinct
          FROM agg, ex
        ), est AS (
          SELECT *,
                 round(CASE WHEN n_empty > 0
                            AND {alpha * m * m * float(1 << 32)!r} / sum_units
                                <= {2.5 * m!r}
                       THEN {float(m)!r} * ln({float(m)!r} / n_empty)
                       ELSE {alpha * m * m * float(1 << 32)!r} / sum_units
                       END, 6) AS est_distinct
          FROM one
        )
        SELECT m, n_empty, sum_units, exact_distinct, est_distinct,
               round(abs(est_distinct - exact_distinct)
                     / exact_distinct, 6) AS rel_err
        FROM est"""


def hll_estimate_by(
    df: DataFrame,
    col: str,
    group_cols: list[str],
    b: int = 5,
    seed: str = "hll",
) -> DataFrame:
    """Per-group HyperLogLog estimates — the form the sketch actually
    earns its keep in at scale: one pass computes a distinct-count
    estimate for EVERY group simultaneously, shuffling at most
    ``2^b`` register rows per (group, partition) instead of the full
    per-group distinct sets.  Same register/branch math as
    :func:`hll_estimate`, keyed by ``group_cols``; exact per-group
    distinct counts ride alongside for calibration.
    """
    m = 1 << b
    alpha = _hll_alpha(m)
    rest_bits = 32 - b
    from openseize_spark.llm.sampling import salted_hash

    h = salted_hash(F.col(col), seed)
    prep = df.select(
        *group_cols,
        (h / (1 << rest_bits)).cast("bigint").alias("_bkt"),
        (h % (1 << rest_bits)).alias("_rest"),
    ).withColumn(
        "_rho",
        F.when(F.col("_rest") == 0, F.lit(rest_bits + 1)).otherwise(
            F.lit(rest_bits + 1) - F.length(F.bin(F.col("_rest")))
        ),
    )
    regs = prep.groupBy(*group_cols, "_bkt").agg(
        F.max("_rho").cast("bigint").alias("_mj")
    )
    agg = regs.groupBy(*group_cols).agg(
        F.count("*").alias("_np"),
        F.sum(F.pow(F.lit(2.0), 32 - F.col("_mj")).cast("bigint")).alias("_sp"),
    )
    exact = df.groupBy(*group_cols).agg(
        F.countDistinct(col).cast("bigint").alias("exact_distinct")
    )
    one = agg.join(exact, on=group_cols)
    sum_units = (
        F.col("_sp") + (F.lit(m) - F.col("_np")) * F.lit(1 << 32)
    ).cast("bigint")
    n_empty = (F.lit(m) - F.col("_np")).cast("bigint")
    raw = F.lit(alpha * m * m * float(1 << 32)) / F.col("sum_units")
    est = F.when(
        (F.col("n_empty") > 0) & (raw <= 2.5 * m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_empty")),
    ).otherwise(raw)
    return (
        one.select(
            *group_cols,
            n_empty.alias("n_empty"),
            sum_units.alias("sum_units"),
            "exact_distinct",
        )
        .withColumn("est_distinct", F.round(est, 6))
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("est_distinct") - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ),
        )
    )


def hll_estimate_by_oracle_sql(
    col: str,
    group_expr: str,
    table: str = "events",
    b: int = 5,
    seed: str = "hll",
    alias: str = "g",
) -> str:
    """DuckDB replay of :func:`hll_estimate_by` for a single grouping
    expression, emitted under ``alias``."""
    m = 1 << b
    rest_bits = 32 - b
    alpha = _hll_alpha(m)
    h = salted_hash_sql(col, seed)
    return f"""
        WITH hx AS (
          SELECT {group_expr} AS g,
                 {h} // {1 << rest_bits} AS bucket,
                 {h} % {1 << rest_bits} AS rest
          FROM {table}
        ), regs AS (
          SELECT g, bucket,
                 CAST(max(CASE WHEN rest = 0 THEN {rest_bits + 1}
                               ELSE {rest_bits + 1} - length(bin(rest))
                          END) AS BIGINT) AS mj
          FROM hx GROUP BY g, bucket
        ), agg AS (
          SELECT g, count(*) AS np,
                 CAST(sum(CAST(pow(2.0, 32 - mj) AS BIGINT)) AS BIGINT) AS sp
          FROM regs GROUP BY g
        ), ex AS (
          SELECT {group_expr} AS g,
                 CAST(count(DISTINCT {col}) AS BIGINT) AS exact_distinct
          FROM {table} GROUP BY g
        ), one AS (
          SELECT agg.g,
                 CAST({m} - np AS BIGINT) AS n_empty,
                 CAST(sp + ({m} - np) * (1::BIGINT << 32) AS BIGINT)
                   AS sum_units,
                 exact_distinct
          FROM agg JOIN ex ON agg.g = ex.g
        ), est AS (
          SELECT *,
                 round(CASE WHEN n_empty > 0
                            AND {alpha * m * m * float(1 << 32)!r} / sum_units
                                <= {2.5 * m!r}
                       THEN {float(m)!r} * ln({float(m)!r} / n_empty)
                       ELSE {alpha * m * m * float(1 << 32)!r} / sum_units
                       END, 6) AS est_distinct
          FROM one
        )
        SELECT g AS {alias}, n_empty, sum_units, exact_distinct,
               est_distinct,
               round(abs(est_distinct - exact_distinct)
                     / exact_distinct, 6) AS rel_err
        FROM est"""


# ------------------------------------------------------------ Misra-Gries


def mg_compress(counts: dict, k: int) -> dict:
    """One Misra-Gries merge/compress step (Agarwal et al., PODS'12
    "Mergeable summaries", Thm 1): if more than k counters are live,
    subtract the (k+1)-th largest counter value from ALL counters and
    drop the non-positive ones.  The total weight subtracted from any
    single item across a whole stream of such steps is <= n/(k+1), so
    every item with true frequency > n/(k+1) keeps a positive counter —
    the summary is a SUPERSET of the heavy hitters no matter how the
    stream was partitioned or merge-ordered.  Pure function so the
    guarantee is unit/property-testable off-cluster."""
    if len(counts) <= k:
        return counts
    sub = sorted(counts.values(), reverse=True)[k]
    return {x: c - sub for x, c in counts.items() if c > sub}


def misra_gries_heavy(
    items: DataFrame, col: str = "item", k: int = 200
) -> DataFrame:
    """EXACT heavy hitters — every item with count * (k+1) > N — found
    with two scans and O(k) state per task, never a full-vocabulary
    shuffle:

    1. one ``mapInPandas`` scan builds a k-counter Misra-Gries summary
       per partition (Arrow-batched; dict updates per batch, compress
       via ``mg_compress``).  The union of per-partition summaries is a
       guaranteed superset of the global heavy hitters (pigeonhole: an
       item with global share > 1/(k+1) exceeds that share in some
       partition), so correctness is partition-invariant even though
       each summary is not;
    2. the bounded candidate set (<= num_partitions * k rows) broadcast
       semi-joins a recount scan, and the exact counts gate the final
       answer — output is exact and deterministic, the sketch only ever
       PRUNES.

    Contrast with Count-Min (``countmin_sketch``): MG needs no width
    tuning and gives a deterministic superset, at the cost of the
    second scan.  Returns (item, cnt) with cnt * (k+1) > N.
    """
    import pandas as pd

    src = items.select(F.col(col).cast("string").alias("item"))
    n_total = src.count()

    def _mg(batches):
        counts: dict = {}
        for pdf in batches:
            for v, c in pdf["item"].value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            counts = mg_compress(counts, k)
        yield pd.DataFrame({"item": list(counts.keys())})

    cand = src.mapInPandas(_mg, schema="item string").distinct()
    exact = (
        src.join(F.broadcast(cand), "item", "left_semi")
        .groupBy("item")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return exact.filter(F.col("cnt") * (k + 1) > F.lit(n_total))


def misra_gries_heavy_oracle_sql(inner: str, k: int = 200) -> str:
    """DuckDB replay: the operator's output is exact, so the oracle is
    the plain frequency filter over the same item stream ``inner``
    (a SQL relation with one column ``item``)."""
    return f"""
        WITH items AS ({inner}),
        n AS (SELECT count(*) AS n FROM items)
        SELECT item, CAST(count(*) AS BIGINT) AS cnt
        FROM items GROUP BY item
        HAVING count(*) * {k + 1} > (SELECT n FROM n)
    """

"""Deduplication operators for large-scale text corpora.

No reference counterpart (openseize is a DSP library) — these are the
training-data-pipeline extensions required at 100 TB scale.  All are
shuffle-conscious:

- exact dedup: one hash-groupBy on a fingerprint column (md5), keep the
  smallest doc_id — a single shuffle on a short key.
- MinHash + LSH: shingles -> k minhash values via k independent hash
  permutations (xxhash-free: Spark's murmur3 `hash` with per-permutation
  seeds) -> band signatures -> candidate pairs via an equi-join on
  (band_id, band_hash) — the classic banding scheme, never an O(n²)
  cross join.
- SimHash: 64-bit sign-sum over token hashes; near-dup = identical
  simhash bucket (or Hamming-adjacent via rotations).
- n-gram Jaccard: exact verification on LSH candidates only.
- chunk dedup (CCNet-style): tumbling word-chunk fingerprints counted
  corpus-wide; boilerplate chunks dropped, documents reassembled.
- dup-span detection: per-doc fraction of word n-grams shared with
  another document (the Lee-et-al. duplication diagnostic).
- decontamination: exact fingerprint and GPT-3-style n-gram overlap
  against a broadcast benchmark set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openseize_spark import session


def normalize_text(col):
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def normalize_text_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`normalize_text` for oracle SQL.  Java's
    ``\\s`` includes the vertical tab and RE2's does not, hence
    ``[\\s\\v]``."""
    return f"regexp_replace(lower(trim({expr})), '[\\s\\v]+', ' ', 'g')"


def tokenize(col):
    """Whitespace tokens of the normalized text (no empty tokens)."""
    return F.filter(F.split(normalize_text(col), " "), lambda s: F.length(s) > 0)


def tokenize_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`tokenize`."""
    return (
        f"list_filter(string_split({normalize_text_sql(expr)}, ' '), "
        "x -> len(x) > 0)"
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Test-set decontamination: drop every document whose normalized
    text fingerprint appears in the benchmark set — the standard exact
    pre-training hygiene pass (fuzzy containment belongs to the MinHash
    pipeline: run ``minhash_lsh_pairs`` over docs ∪ benchmark and drop
    the doc side of cross pairs).

    One left-anti join on a 16-byte md5 key.  Benchmarks are tiny next
    to a 100-TB corpus, so the default broadcasts the fingerprint set
    and the corpus never shuffles; pass ``broadcast_benchmark=False``
    for a benchmark too large to broadcast (falls back to a shuffled
    anti join on the hash key).
    """
    bcol = bench_text_col or text_col
    fps = benchmark.select(
        F.md5(normalize_text(F.col(bcol))).alias("_bfp")
    ).distinct()
    if broadcast_benchmark:
        fps = F.broadcast(fps)
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        docs.withColumn("_fp", fp)
        .join(fps, F.col("_fp") == F.col("_bfp"), "left_anti")
        .drop("_fp")
    )


def _word_gram_fps(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, gram-md5) pairs: every normalized word n-gram of every doc.
    Normalization collapses whitespace to single spaces, so the split is
    exact and the gram string is replayable in SQL."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), words.alias("_w"))
        .filter(F.size("_w") >= n)
    )
    return base.select(
        "_id",
        F.explode(F.sequence(F.lit(1), F.size("_w") - (n - 1))).alias("_i"),
        "_w",
    ).select("_id", F.md5(F.concat_ws(" ", F.expr(f"slice(_w, _i, {n})"))).alias("_g"))


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """GPT-3-style n-gram decontamination: drop every corpus document
    that shares at least one normalized word ``n``-gram with the
    benchmark — catches partial containment (a test question quoted
    inside a larger page) that exact-fingerprint :func:`decontaminate`
    misses.

    Scale shape: the benchmark's distinct gram fingerprints are
    broadcast (a test set is small by definition — GPT-3 used 13-grams
    over tens of MB of eval data against hundreds of GB of corpus); the
    corpus explodes to grams in place and semi-joins the broadcast set
    with no shuffle, the surviving contaminated id set (bounded by the
    corpus row count, usually far smaller) aggregates in one shuffle,
    and the final anti-join keys on the id.  Documents with NULL text
    have no grams and are kept."""
    bcol = bench_text_col or text_col
    bench_grams = _word_gram_fps(benchmark, bcol, id_col, n).select("_g").distinct()
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    contaminated = (
        _word_gram_fps(docs, text_col, id_col, n)
        .join(bench_grams, "_g", "left_semi")
        .select("_id")
        .distinct()
    )
    return docs.join(
        contaminated.withColumnRenamed("_id", id_col), id_col, "left_anti"
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct normalized text (smallest id wins).
    Returns the surviving rows with a `dup_count` column."""
    fp = F.md5(normalize_text(F.col(text_col))).alias("_fp")
    with_fp = docs.withColumn("_fp", fp)
    keep = with_fp.groupBy("_fp").agg(
        F.min(id_col).alias(id_col), F.count("*").alias("dup_count")
    )
    return (
        with_fp.join(keep.select(id_col, "dup_count"), on=id_col, how="inner")
        .drop("_fp")
    )


def chunk_dedup(
    docs: DataFrame,
    chunk_words: int = 10,
    max_docs: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style cross-document span deduplication: split every
    document into tumbling ``chunk_words``-word chunks of the normalized
    text, drop every chunk whose fingerprint occurs in more than
    ``max_docs`` distinct documents (boilerplate — headers, footers,
    license blocks, navigation text), and reassemble each document from
    its surviving chunks in order.

    CCNet does this at paragraph grain over Common Crawl; the corpus
    here carries no line structure, so fixed word windows stand in for
    paragraphs — the operator shape (fingerprint -> corpus-wide count ->
    filter -> reassemble) is identical.

    Scale shape: the compact documents scan is repartitioned on the id
    BEFORE the chunk explode (the minhash_signatures discipline — the
    shuffle moves un-amplified doc rows, never exploded chunks, and
    without it the row-amplified chunk build runs in the scan's handful
    of input partitions).  Generate preserves that partitioning, so the
    per-doc reassembly groupBy is exchange-free.  In the executed plan
    the scan→repartition→explode subtree appears TWICE — once feeding
    the per-doc chunk stream and once recomputed under the frequency
    branch (no ReusedExchange; recompute is deliberate: caching the
    row-amplified chunk table costs more memory than re-deriving it
    from the compact scan, cf. ARCHITECTURE.md) — so the plan carries
    two un-amplified doc shuffles and two Generates.  The frequency
    aggregate's ``count_distinct(_id)`` map-side partials are keyed on
    (fingerprint, id): its Exchange hashpartitioning(_fp) moves roughly
    one row per distinct (chunk, doc) occurrence, not per distinct
    fingerprint.  The chunk↔frequency match is an equi-join on the
    16-byte md5 (broadcast when the surviving fingerprint set fits —
    AQE decides — in which case the id partitioning survives the join
    and no exploded row moves in the reassembly path; measured 3x over
    the shuffle-the-explode shape at sf0.1 and pinned by the
    plan-shape test; at vocabulary scales past broadcast the join falls
    back to one hash shuffle of the exploded rows, the operator's
    irreducible cost).  Documents whose every chunk is boilerplate drop
    out (CCNet drops empty documents too).

    Returns (id, text_deduped, n_kept, n_chunks).
    """
    if chunk_words <= 0:
        raise ValueError("chunk_words must be > 0")
    norm = normalize_text(F.col(text_col))
    words = F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )

    # tumbling windows: chunk i covers words [i*c+1, i*c+c], 0-indexed
    # count.  The words array is BOUND once through the outer lambda
    # (round-14): referencing the normalize+split expression inside the
    # per-chunk lambda re-ran the whole chain once per chunk position
    # (plus 3 more evaluations for nw/nchunks/idx) — same trap class as
    # llm/text._ngram_dup_frac; identical strings either way.
    def _chunks(w):
        nw = F.size(w)
        nchunks = F.ceil(nw / F.lit(float(chunk_words))).cast("int")
        idx = F.when(nw > 0, F.sequence(F.lit(0), nchunks - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.slice(w, i * chunk_words + 1, chunk_words)
            ),
        )

    chunks = F.transform(F.array(words), _chunks)[0]
    # per-doc chunk count for the reassembly join's second docs pass
    # (one words evaluation in that projection)
    nchunks = F.ceil(F.size(words) / F.lit(float(chunk_words))).cast("int")
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    exploded = (
        docs.filter(F.col(text_col).isNotNull())
        .repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(chunks).alias("_i", "_chunk"),
        )
        .withColumn("_fp", F.md5(F.col("_chunk")))
    )
    freq = exploded.groupBy("_fp").agg(
        F.count_distinct("_id").alias("_ndocs")
    )
    kept = exploded.join(freq, on="_fp").filter(F.col("_ndocs") <= max_docs)
    return (
        kept.groupBy("_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_i", "_chunk"))),
                    lambda s: s["_chunk"],
                ),
            ).alias("text_deduped"),
            F.count("*").cast("bigint").alias("n_kept"),
        )
        .join(
            docs.select(
                F.col(id_col).alias("_id"),
                F.coalesce(nchunks.cast("bigint"), F.lit(0)).alias("n_chunks"),
            ),
            on="_id",
        )
        .select(
            F.col("_id").alias(id_col), "text_deduped", "n_kept", "n_chunks"
        )
    )


def chunk_dedup_oracle_sql(
    chunk_words: int = 10, max_docs: int = 1
) -> str:
    """DuckDB SQL equal to chunk_dedup: same normalization, tumbling
    windows, md5 chunk fingerprints, distinct-doc counts, and ordered
    reassembly."""
    c = chunk_words
    return f"""
        WITH w AS (
          SELECT doc_id,
                 string_split({normalize_text_sql()}, ' ') AS wl
          FROM documents WHERE text IS NOT NULL
        ), sized AS (
          SELECT doc_id, wl,
                 CASE WHEN len(wl) = 1 AND wl[1] = '' THEN 0
                      ELSE CAST(ceil(len(wl) / {float(c)}) AS INT) END AS nchunks
          FROM w
        ), chunks AS (
          SELECT doc_id, nchunks, u.i AS idx,
                 array_to_string(wl[(u.i * {c} + 1):(u.i * {c} + {c})], ' ')
                   AS chunk
          FROM sized, unnest(generate_series(0, nchunks - 1)) AS u(i)
          WHERE nchunks > 0
        ), fp AS (
          SELECT doc_id, nchunks, idx, chunk, md5(chunk) AS h FROM chunks
        ), freq AS (
          SELECT h, count(DISTINCT doc_id) AS ndocs FROM fp GROUP BY h
        ), kept AS (
          SELECT fp.* FROM fp JOIN freq USING (h) WHERE ndocs <= {max_docs}
        )
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY idx) AS text_deduped,
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(any_value(nchunks) AS BIGINT) AS n_chunks
        FROM kept GROUP BY doc_id"""


def dup_span_detect(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplication diagnostic (the analysis behind
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al.): for every document, the fraction of its word ``n``-gram
    occurrences that also appear in at least one OTHER document.  High
    ``dup_frac`` documents are near-copies or template spam even when no
    exact-dup fingerprint matches; the column is the standard input to a
    "remove docs with >80% duplicated spans" policy.

    Scale shape: the gram explode is the only row amplification
    (n-fold, same as ngram_decontaminate); the per-gram distinct-doc
    count aggregates on a 16-byte md5 with partial combine; the
    gram->count match is an equi-join on that hash; the per-doc rollup
    keys on the id.  All-integer until the final division (same
    operands both engines).

    Returns (id, n_grams, n_dup_grams, dup_frac); documents with fewer
    than ``n`` words have no grams and are omitted.
    """
    grams = _word_gram_fps(docs, text_col, id_col, n)
    gdocs = grams.groupBy("_g").agg(F.count_distinct("_id").alias("_nd"))
    return (
        grams.join(gdocs, on="_g")
        .groupBy("_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("_nd") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_dup_grams",
            (
                F.col("n_dup_grams").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_frac"),
        )
    )


def dup_span_detect_oracle_sql(n: int = 8) -> str:
    """DuckDB SQL equal to dup_span_detect: same normalization, gram
    positions, md5 fingerprints, distinct-doc counts, and rollup."""
    return f"""
        WITH w AS (
          SELECT doc_id,
                 string_split({normalize_text_sql()}, ' ') AS wl
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT doc_id,
                 md5(array_to_string(wl[u.i:(u.i + {n} - 1)], ' ')) AS g
          FROM w, unnest(generate_series(1, len(wl) - {n} + 1)) AS u(i)
          WHERE len(wl) >= {n}
        ), gd AS (
          SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_grams,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS dup_frac
        FROM grams JOIN gd USING (g)
        GROUP BY doc_id"""


def dup_substring_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal cross-document duplicated SUBSTRING SPANS — the actual
    cut list of exact-substring dedup (Lee et al. 2022): every word
    position whose ``n``-gram fingerprint occurs in at least one OTHER
    document, merged into maximal spans per document.  Each duplicated
    gram start covers words ``[i, i+n-1]``; starts whose covered
    intervals overlap or touch (``i - prev_i <= n``) merge into one
    span — an interval UNION, so the output spans are DISJOINT and
    ``sum(span_words)`` is exactly the number of duplicated words (a
    step-1-only run merge would emit overlapping spans for gapped
    starts like ``i`` and ``i+2``, double-counting the overlap).
    Where :func:`dup_span_detect` reports the per-doc duplicated
    FRACTION (the drop-policy input), this returns the spans
    themselves — what a surgical span-removal pass deletes instead of
    dropping whole documents.

    Scale shape: the gram explode is the only row amplification
    (n-fold); the per-gram distinct-doc count aggregates on a 16-byte
    md5 with partial combine; the cross-doc filter is a semi-join on
    that hash; the span merge is the gaps-and-islands pattern (a
    lag-gap flag plus its running sum) under a per-document window —
    no cross-document state after the semi-join.  All-integer output,
    bit-equal on any partitioning.

    Returns (id, span_start, span_words) with 1-based starts;
    documents with no cross-doc duplicated gram are absent.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), words.alias("_w"))
        .filter(F.size("_w") >= n)
    )
    g = base.select(
        "_id",
        F.explode(
            F.sequence(F.lit(1), F.size("_w") - (n - 1))
        ).alias("_i"),
        "_w",
    ).select(
        "_id",
        F.col("_i").cast("bigint").alias("_i"),
        F.md5(F.concat_ws(" ", F.expr(f"slice(_w, _i, {n})"))).alias(
            "_g"
        ),
    ).localCheckpoint(eager=False)  # two consumers: counts + positions
    gd = (
        g.groupBy("_g")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_g")
    )
    dup = g.join(gd, on="_g", how="leftsemi").select("_id", "_i")
    w = Window.partitionBy("_id").orderBy("_i")
    # all intervals have equal length n, so the running-max interval
    # union reduces to a lag gap test: a start more than n past the
    # previous start opens a new span
    runs = dup.withColumn(
        "_new",
        F.when(
            F.col("_i") - F.lag("_i").over(w) > n, 1
        ).otherwise(0),
    ).withColumn(
        "_grp",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        runs.groupBy("_id", "_grp")
        .agg(
            F.min("_i").alias("span_start"),
            (F.max("_i") - F.min("_i") + n).alias("span_words"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("span_start").cast("bigint").alias("span_start"),
            F.col("span_words").cast("bigint").alias("span_words"),
        )
    )


def dup_substring_spans_oracle_sql(n: int = 8) -> str:
    """DuckDB replay of :func:`dup_substring_spans`: same grams,
    distinct-doc filter, and lag-gap interval-union span merge."""
    return f"""
        WITH w AS (
          SELECT doc_id,
                 string_split({normalize_text_sql()}, ' ') AS wl
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT doc_id, CAST(u.i AS BIGINT) AS i,
                 md5(array_to_string(wl[u.i:(u.i + {n} - 1)], ' ')) AS g
          FROM w, unnest(generate_series(1, len(wl) - {n} + 1)) AS u(i)
          WHERE len(wl) >= {n}
        ), gd AS (
          SELECT g FROM (
            SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g
          ) WHERE nd >= 2
        ), dup AS (
          SELECT doc_id, i FROM grams WHERE g IN (SELECT g FROM gd)
        ), flagged AS (
          SELECT doc_id, i,
                 CASE WHEN i - lag(i) OVER (
                        PARTITION BY doc_id ORDER BY i
                      ) > {n} THEN 1 ELSE 0 END AS new_span
          FROM dup
        ), runs AS (
          SELECT doc_id, i,
                 sum(new_span) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS UNBOUNDED PRECEDING
                 ) AS grp
          FROM flagged
        )
        SELECT doc_id,
               CAST(min(i) AS BIGINT) AS span_start,
               CAST(max(i) - min(i) + {n} AS BIGINT) AS span_words
        FROM runs GROUP BY doc_id, grp"""


def gram_novelty(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document n-gram NOVELTY in ingestion (id) order: the
    fraction of a document's distinct word ``n``-gram fingerprints
    whose globally FIRST occurrence (minimum doc id) is this document.
    The temporal complement of :func:`dup_span_detect`'s symmetric
    duplication fraction — novelty falling over an ingestion window is
    the "the crawl is re-fetching what we already have" saturation
    signal corpus-growth studies track, and low-novelty NEW documents
    are the incremental-dedup drop candidates.

    Scale shape: the gram explode is the only row amplification; the
    (id, gram) distinct and the per-gram min(id) aggregate both key on
    the 16-byte md5 with partial combine; the per-doc rollup keys on
    the id.  All-integer until the final division (same operands both
    engines).

    Returns (id, n_grams, n_novel, novelty) over DISTINCT grams;
    documents with fewer than ``n`` words have no grams and are
    omitted.
    """
    grams = _word_gram_fps(docs, text_col, id_col, n).distinct()
    firsts = grams.groupBy("_g").agg(F.min("_id").alias("_first"))
    return (
        grams.join(firsts, on="_g")
        .groupBy("_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("_first") == F.col("_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_grams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double"),
                9,
            ).alias("novelty"),
        )
    )


def gram_novelty_oracle_sql(n: int = 8) -> str:
    """DuckDB SQL equal to gram_novelty: same normalization, gram
    fingerprints, DISTINCT (id, gram) pairs, per-gram min id, rollup."""
    return f"""
        WITH w AS (
          SELECT doc_id,
                 string_split({normalize_text_sql()}, ' ') AS wl
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT DISTINCT doc_id,
                 md5(array_to_string(wl[u.i:(u.i + {n} - 1)], ' ')) AS g
          FROM w, unnest(generate_series(1, len(wl) - {n} + 1)) AS u(i)
          WHERE len(wl) >= {n}
        ), firsts AS (
          SELECT g, min(doc_id) AS first_id FROM grams GROUP BY g
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round(CAST(sum(CASE WHEN first_id = doc_id
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 9) AS novelty
        FROM grams JOIN firsts USING (g)
        GROUP BY doc_id"""


def levenshtein_verify(
    docs: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.8,
    prefix_chars: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance verification of candidate near-dup pairs: for each
    (a, b) candidate, the normalized Levenshtein similarity
    ``1 - lev/max(len_a, len_b)`` over the first ``prefix_chars``
    characters of the normalized texts.  The character-level
    alternative to ``jaccard_verify`` — it catches small in-place edits
    (typo spam, template fills) that shift every shingle.

    Scale shape: candidates only, never all-pairs; the O(L^2) DP cost
    is bounded by the prefix cap, the canonical discipline for edit
    distance on long documents.  Parity note: the distance runs on the
    ASCII projection of the normalized text (non-ASCII bytes stripped)
    because engines disagree on byte- vs codepoint-level distance for
    multibyte characters; on ASCII the DP is unambiguous.

    Returns (a, b, lev, sim) for sim >= threshold.
    """
    ascii_prefix = F.substring(
        F.regexp_replace(normalize_text(F.col(text_col)), "[^\\x20-\\x7e]", ""),
        1,
        prefix_chars,
    )
    txt = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_pid"), ascii_prefix.alias("_ptxt")
    )
    j = (
        pairs.join(
            txt.select(
                F.col("_pid").alias("a"), F.col("_ptxt").alias("_ta")
            ),
            on="a",
        )
        .join(
            txt.select(
                F.col("_pid").alias("b"), F.col("_ptxt").alias("_tb")
            ),
            on="b",
        )
        .withColumn("lev", F.levenshtein("_ta", "_tb").cast("bigint"))
        .withColumn(
            "sim",
            F.round(
                1
                - F.col("lev").cast("double")
                / F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1)).cast(
                    "double"
                ),
                9,
            ),
        )
    )
    return j.filter(F.col("sim") >= F.lit(float(threshold))).select(
        "a", "b", "lev", "sim"
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    canonical edges (a < b) — the clustering-coefficient numerator, and
    on a near-dup graph the signal separating genuine duplicate cliques
    from chains of borderline pairs.

    Scale shape: the classic two-join enumeration on ordered vertices —
    wedges (a<b<c) from e1 ⋈ e2 on the shared middle vertex, closed by
    an equi semi-ish join against e3 on (a, c) — every triangle is
    produced exactly once because vertex order fixes the orientation.
    The explode to per-node counts is 3 rows per triangle.  All joins
    are equi joins on vertex keys; wedge fan-out is sum of deg^2, the
    known cost of exact triangle counting (the ordering trick keeps it
    to high-degree-last, the standard mitigation).

    Returns (id, n_triangles) for nodes in at least one triangle.
    """
    # Three consumers of the edge list; checkpoint so a possibly
    # expensive upstream pair-generation plan executes once.  The
    # checkpoint is EAGER, matching connected_components / pagerank.
    edges = edges.localCheckpoint(eager=True)
    e1 = edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = edges.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = e1.join(e2, on="y")
    e3 = edges.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = wedges.join(e3, on=["x", "z"])
    return (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


def _undirected(edges: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Both directions of every ``(a_col, b_col)`` pair, as ``(x, y)``
    rows: the neighbor relation of the undirected graph."""
    return edges.select(F.col(a_col).alias("x"), F.col(b_col).alias("y")).union(
        edges.select(F.col(b_col).alias("x"), F.col(a_col).alias("y"))
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a node partition over an undirected graph
    given as canonical edges (a < b, a != b) — the standard quality
    score for the communities label_propagation finds on the near-dup
    graph (is a family denser inside than its degree mass predicts?).

    Per community c the contribution is e_c/m - (D_c / 2m)^2 with
    e_c = edges inside c, D_c = sum of member degrees, m = |E|; total
    modularity is the sum.  Every input is an exact int64 count, so
    each output row does two IEEE divisions and one subtraction on
    identical integers in both engines — no float accumulates across
    rows (the per-community rows ARE the decomposition; the oracle
    replays them cell by cell).

    Scale shape: degrees and e_c are |E|-keyed aggregates; the label
    table joins in at |V| (node-keyed equi joins); the one-row m
    aggregate rides a broadcast cross join.  ``labels`` must cover
    every node in ``edges`` (label_propagation's output does).

    Returns (label, n_nodes, e_in, deg_sum, contribution).
    """
    # three consumers of the edge list (degrees, e_in, m); checkpoint
    # so an expensive upstream pair-generation plan executes once
    edges = edges.filter(F.col("a") != F.col("b")).localCheckpoint(eager=True)
    und = _undirected(edges, "a", "b")
    lab = labels.select(F.col("id"), F.col("label"))
    m_df = edges.agg(F.count("*").cast("bigint").alias("m"))
    deg = und.groupBy(F.col("x").alias("id")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    la = lab.select(F.col("id").alias("a"), F.col("label").alias("_la"))
    lb = lab.select(F.col("id").alias("b"), F.col("label").alias("_lb"))
    e_in = (
        edges.join(la, on="a")
        .join(lb, on="b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    d_c = (
        deg.join(lab, on="id")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("deg_sum"),
        )
    )
    out = (
        d_c.join(e_in, on="label", how="left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "label",
            "n_nodes",
            F.coalesce(F.col("e_c"), F.lit(0)).cast("bigint").alias("e_in"),
            "deg_sum",
            F.round(
                F.coalesce(F.col("e_c"), F.lit(0)).cast("double")
                / F.col("m").cast("double")
                - (F.col("deg_sum") * F.col("deg_sum")).cast("double")
                / (F.lit(4) * F.col("m") * F.col("m")).cast("double"),
                9,
            ).alias("contribution"),
        )
    )
    return out


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of an undirected graph given as canonical
    edges (a < b, a != b): the Pearson correlation of endpoint degrees
    over the DIRECTED (symmetrized) edge list — do the hubs of the
    near-dup graph link to other hubs (templated boilerplate families)
    or to leaves (star-shaped near-copies of one original)?

    With both edge directions present the x and y marginals coincide,
    so r collapses to (n*Sxy - Sx^2) / (n*Sxx - Sx^2) with every sum an
    exact int64 (degrees are bounded counts) — one IEEE division at the
    end, the exact-moment-correlation discipline (value_hour_corr).

    Scale shape: one degree aggregate plus two node-keyed equi joins of
    the edge list against the |V|-row degree table; the final one-row
    aggregate is a bounded SinglePartition reduce.

    Returns one row (n, sum_d, sum_d2, sum_dxdy, assortativity).
    """
    # two consumers of the edge list (degree build + the edge scan the
    # degrees join back onto); checkpoint so an expensive upstream
    # pair-generation plan executes once (triangle_count discipline)
    edges = edges.filter(F.col("a") != F.col("b")).localCheckpoint(eager=True)
    und = _undirected(edges, "a", "b")
    deg = und.groupBy(F.col("x").alias("id")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    dx = deg.select(F.col("id").alias("x"), F.col("d").alias("_dx"))
    dy = deg.select(F.col("id").alias("y"), F.col("d").alias("_dy"))
    s = (
        und.join(dx, on="x")
        .join(dy, on="y")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("_dx").cast("bigint").alias("sum_d"),
            F.sum(F.col("_dx") * F.col("_dx")).cast("bigint").alias("sum_d2"),
            F.sum(F.col("_dx") * F.col("_dy")).cast("bigint").alias("sum_dxdy"),
        )
    )
    return s.select(
        "n",
        "sum_d",
        "sum_d2",
        "sum_dxdy",
        F.round(
            (F.col("n") * F.col("sum_dxdy") - F.col("sum_d") * F.col("sum_d")).cast(
                "double"
            )
            # zero degree variance (a regular graph: single edge,
            # perfect matching, cycle) makes r undefined — NULL, not a
            # divide-by-zero throw (hypothesis found the ANSI error)
            / F.nullif(
                (
                    F.col("n") * F.col("sum_d2")
                    - F.col("sum_d") * F.col("sum_d")
                ).cast("double"),
                F.lit(0.0),
            ),
            9,
        ).alias("assortativity"),
    )


def clustering_buckets(edges: DataFrame) -> DataFrame:
    """Distribution of local clustering coefficients over an undirected
    graph given as canonical edges (a < b, a != b): per node with
    degree >= 2 the coefficient 2*tri / (d*(d-1)), binned onto ten
    integer buckets — the shape diagnostic separating clique-like
    duplicate families (bucket 9) from star/chain structures
    (bucket 0) without emitting |V| float rows.

    Binning is pure integer floor division — bucket =
    min(9, (20*tri) div (d*(d-1))) on provably non-negative operands,
    so Spark's truncating ``div`` and DuckDB's flooring ``//`` agree
    and no float exists anywhere in the query.

    Scale shape: triangle_count's two-join wedge enumeration (its
    eager checkpoint materializes the edge list once for all three
    consumers here: wedges, closing join, degrees), one |V|-keyed
    degree aggregate, a broadcast-sized left join, and a 10-row final
    aggregate.

    Returns (bucket, n_nodes, sum_tri).
    """
    edges = edges.filter(F.col("a") != F.col("b")).localCheckpoint(eager=True)
    tri = triangle_count(edges)
    und = _undirected(edges, "a", "b")
    deg = und.groupBy(F.col("x").alias("id")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    j = (
        deg.filter(F.col("d") >= 2)
        .join(tri, on="id", how="left")
        .select(
            "id",
            "d",
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias("t"),
        )
    )
    bucket = F.least(
        F.lit(9).cast("bigint"),
        F.expr("CAST((20 * t) div (d * (d - 1)) AS BIGINT)"),
    )
    return (
        j.select(bucket.alias("bucket"), "t")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("t").cast("bigint").alias("sum_tri"),
        )
    )


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Conductance of each community of a node partition over an
    undirected graph given as canonical edges (a < b, a != b) — the
    cut-quality score complementing modularity: how much of a
    community's edge volume leaks across its boundary.  phi_c =
    cut_c / min(vol_c, 2m - vol_c) with cut_c = D_c - 2*e_c — every
    input an exact int64 count, one division per row (NULL when the
    denominator is 0: the community IS the whole graph).

    Scale shape: identical to :func:`modularity` — |E|-keyed degree and
    e_in aggregates, |V| label joins, broadcast one-row m.

    Returns (label, n_nodes, cut, vol, conductance).
    """
    edges = edges.filter(F.col("a") != F.col("b")).localCheckpoint(eager=True)
    und = _undirected(edges, "a", "b")
    lab = labels.select(F.col("id"), F.col("label"))
    m_df = edges.agg(F.count("*").cast("bigint").alias("m"))
    deg = und.groupBy(F.col("x").alias("id")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    la = lab.select(F.col("id").alias("a"), F.col("label").alias("_la"))
    lb = lab.select(F.col("id").alias("b"), F.col("label").alias("_lb"))
    e_in = (
        edges.join(la, on="a")
        .join(lb, on="b")
        .filter(F.col("_la") == F.col("_lb"))
        .groupBy(F.col("_la").alias("label"))
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    d_c = (
        deg.join(lab, on="id")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("vol"),
        )
    )
    cut = F.col("vol") - 2 * F.coalesce(F.col("e_c"), F.lit(0))
    den = F.least(F.col("vol"), 2 * F.col("m") - F.col("vol"))
    return (
        d_c.join(e_in, on="label", how="left")
        .crossJoin(F.broadcast(m_df))
        .select(
            "label",
            "n_nodes",
            cut.cast("bigint").alias("cut"),
            "vol",
            F.round(
                cut.cast("double")
                / F.nullif(den.cast("double"), F.lit(0.0)),
                9,
            ).alias("conductance"),
        )
    )


def conductance_oracle_sql(
    rounds: int = 4,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of the conductance query over the
    label-propagation communities: the shared label CTE chain, then
    per-community cut/volume from exact integer counts."""
    return (
        _label_prop_ctes(rounds, k, num_hashes, bands, threshold)
        + f""", lab AS (
          SELECT id, label FROM l{rounds}
        ), edges AS (
          SELECT a, b FROM vp WHERE a <> b
        ), mm AS (
          SELECT CAST(count(*) AS BIGINT) AS m FROM edges
        ), deg AS (
          SELECT x AS id, CAST(count(*) AS BIGINT) AS d
          FROM und GROUP BY x
        ), e_in AS (
          SELECT la.label, CAST(count(*) AS BIGINT) AS e_c
          FROM edges
          JOIN lab la ON edges.a = la.id
          JOIN lab lb ON edges.b = lb.id
          WHERE la.label = lb.label
          GROUP BY la.label
        ), d_c AS (
          SELECT la.label,
                 CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(deg.d) AS BIGINT) AS vol
          FROM deg JOIN lab la ON deg.id = la.id
          GROUP BY la.label
        )
        SELECT d_c.label, d_c.n_nodes,
               CAST(d_c.vol - 2 * coalesce(e_in.e_c, 0) AS BIGINT) AS cut,
               d_c.vol,
               round(CAST(d_c.vol - 2 * coalesce(e_in.e_c, 0) AS DOUBLE)
                     / nullif(CAST(least(d_c.vol, 2 * mm.m - d_c.vol)
                                   AS DOUBLE), 0.0), 9) AS conductance
        FROM d_c
        LEFT JOIN e_in ON d_c.label = e_in.label
        CROSS JOIN mm"""
    )


def _rank_contrib(und: DataFrame, ranks: DataFrame) -> DataFrame:
    """One PageRank push: every node's ``u div deg`` share summed per
    neighbor, as (y, s)."""
    return (
        und.join(ranks.select("x", F.expr("u div deg").alias("c")), on="x")
        .groupBy("y")
        .agg(F.sum("c").alias("s"))
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 5,
    scale: int = 10**12,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Personalized PageRank over an undirected pair graph (damping
    0.85, teleport restricted to ``seeds``) in EXACT integer
    arithmetic — proximity to a trusted seed set (TrustRank-style
    quality propagation, seeded community discovery), run as a fixed
    number of eager rounds.

    Identical integer discipline to :func:`pagerank`: ranks in
    ``scale`` units, per-edge contribution ``u div deg``, update
    ``base + (17 * s) div 20`` — but the base term
    ``(3 * scale) div (20 * n_seeds)`` lands ONLY on seed nodes, and
    iteration starts from the all-mass-on-seeds vector
    (``scale div n_seeds``).  All floor divisions on non-negative
    int64 operands (Spark ``div`` == DuckDB ``//``), so the oracle
    unrolls every round bit-for-bit.

    Scale shape per iteration: one pre-partitioned |E| join + one
    node-keyed sum (the edge list shuffles ONCE total); seeds join in
    at |V| via broadcast; non-seed nodes with zero inflow drop out of
    the sparse rank table and re-enter only via real paths — the rank
    table stays proportional to the seeds' reachable set, exactly the
    property that makes PPR cheaper than global PageRank at 100 TB.

    Returns (id, degree, ppr) for nodes with nonzero rank mass.
    """
    S = int(scale)
    with session.stationary(_undirected(edges, a_col, b_col), "x") as und:
        deg = und.groupBy("x").agg(
            F.count("*").alias("deg")
        ).localCheckpoint(eager=True)
        seed_ids = (
            seeds.select(F.col("id").alias("x"))
            .join(deg.select("x"), on="x")
            .localCheckpoint(eager=True)
        )
        ns_df = seed_ids.agg(F.count("*").alias("ns"))
        ranks = (
            deg.join(
                seed_ids.withColumn("_is_seed", F.lit(1)), on="x", how="left"
            )
            .crossJoin(F.broadcast(ns_df))
            .select(
                "x",
                "deg",
                F.when(
                    F.col("_is_seed").isNotNull(), F.expr(f"{S} div ns")
                )
                .otherwise(F.lit(0))
                .cast("bigint")
                .alias("u"),
            )
        )
        base = F.when(
            F.col("_is_seed").isNotNull(),
            F.expr(f"(3 * {S}) div (20 * ns)"),
        ).otherwise(F.lit(0))
        for _ in range(iters):
            contrib = _rank_contrib(und, ranks)
            ranks = (
                deg.join(contrib, deg.x == contrib.y, "left")
                .join(
                    seed_ids.withColumn("_is_seed", F.lit(1)),
                    on="x",
                    how="left",
                )
                .crossJoin(F.broadcast(ns_df))
                .select(
                    "x",
                    "deg",
                    (
                        base
                        + F.expr("(17 * coalesce(s, 0)) div 20")
                    ).cast("bigint").alias("u"),
                )
                .filter(F.col("u") > 0)
                .localCheckpoint(eager=True)
            )
    return ranks.select(
        F.col("x").alias("id"),
        F.col("deg").cast("bigint").alias("degree"),
        F.col("u").alias("ppr_units"),
        (F.col("u").cast("double") / F.lit(float(S))).alias("ppr"),
    )


def personalized_pagerank_oracle_sql(
    seed_pred: str,
    iters: int = 5,
    scale: int = 10**12,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of :func:`personalized_pagerank` over the verified
    MinHash pair graph; ``seed_pred`` is a SQL predicate over the node
    id column ``x`` selecting the seed set."""
    S = int(scale)
    ctes = [
        _vpairs_ctes(k, num_hashes, bands, threshold),
        """, und AS MATERIALIZED (
          SELECT a AS x, b AS y FROM vp
          UNION ALL SELECT b AS x, a AS y FROM vp
        ), deg AS MATERIALIZED (
          SELECT x, count(*) AS deg FROM und GROUP BY x
        )""",
        f""", sd AS MATERIALIZED (
          SELECT x FROM deg WHERE {seed_pred}
        ), ns AS (SELECT count(*) AS ns FROM sd)""",
        f""", r0 AS (
          SELECT deg.x, deg.deg,
                 CASE WHEN sd.x IS NOT NULL THEN {S} // ns.ns
                      ELSE 0 END AS u
          FROM deg LEFT JOIN sd ON deg.x = sd.x CROSS JOIN ns
        )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f""", c{i} AS (
          SELECT und.y, sum(r{i-1}.u // r{i-1}.deg) AS s
          FROM und JOIN r{i-1} ON und.x = r{i-1}.x
          GROUP BY und.y
        ), r{i} AS MATERIALIZED (
          SELECT deg.x, deg.deg,
                 (CASE WHEN sd.x IS NOT NULL
                       THEN (3 * {S}) // (20 * ns.ns) ELSE 0 END)
                 + (17 * coalesce(c{i}.s, 0)) // 20 AS u
          FROM deg
          LEFT JOIN c{i} ON deg.x = c{i}.y
          LEFT JOIN sd ON deg.x = sd.x
          CROSS JOIN ns
        )"""
        )
    return (
        "".join(ctes)
        + f"""
        SELECT x AS id, CAST(deg AS BIGINT) AS degree,
               CAST(u AS BIGINT) AS ppr_units,
               CAST(u AS DOUBLE) / {float(S)} AS ppr
        FROM r{iters} WHERE u > 0"""
    )


def source_overlap(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise cross-source contamination matrix: for every pair of
    corpus sources, how many distinct word ``n``-gram fingerprints they
    share, plus the gram-set Jaccard.  The corpus-level complement of
    the per-doc ``dup_span_detect`` — it answers "which subcorpora are
    copying from each other" before any doc-level policy runs.

    Scale shape: ONE row-amplified shuffle total.  The exploded gram
    stream aggregates straight to a per-gram distinct source set
    (``collect_set`` partial-aggregates map-side, so the exchange
    carries at most one (gram, source) unit per input partition — the
    same volume the old ``distinct`` moved, but replacing distinct +
    two self-join exchanges of the gram vocabulary with a single
    hash-partition on the gram key).  The per-gram set is bounded by
    the SOURCE COUNT (a handful), never the corpus, so the in-row set
    and its C(n_sources, 2) pair fan-out are constants; pair counts and
    per-source totals then partial-aggregate from the grouped stream
    with only source-keyed (tiny) exchanges.  Totals and the
    intersection stay integer; only the final Jaccard divides.

    Returns (source_a, source_b, shared_grams, grams_a, grams_b,
    jaccard) for source_a < source_b.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(source_col).alias("_s"), words.alias("_w"))
        .filter(F.size("_w") >= n)
    )
    gs = (
        base.select(
            "_s",
            F.explode(F.sequence(F.lit(1), F.size("_w") - (n - 1))).alias("_i"),
            "_w",
        )
        .select(
            "_s",
            F.md5(F.concat_ws(" ", F.expr(f"slice(_w, _i, {n})"))).alias("_g"),
        )
        .groupBy("_g")
        # sorted so the in-set pair expansion emits source_a < source_b
        # deterministically (collect_set order is partition-dependent)
        .agg(F.array_sort(F.collect_set("_s")).alias("_ss"))
        # consumed twice (per-source totals + pair counts); lazy
        # localCheckpoint materializes the grouped stream once
        .localCheckpoint(eager=False)
    )
    totals = (
        gs.select(F.explode("_ss").alias("_s"))
        .groupBy("_s")
        .agg(F.count("*").alias("_tot"))
    )
    ss = F.col("_ss")
    pair_arr = F.flatten(
        F.transform(
            ss,
            lambda x, i: F.transform(
                F.slice(ss, i + F.lit(2), F.size(ss)),
                lambda y: F.struct(
                    x.alias("source_a"), y.alias("source_b")
                ),
            ),
        )
    )
    shared = (
        gs.filter(F.size("_ss") >= 2)
        .select(F.explode(pair_arr).alias("_p"))
        .select("_p.source_a", "_p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("shared_grams"))
    )
    ta = totals.select(
        F.col("_s").alias("source_a"), F.col("_tot").alias("grams_a")
    )
    tb = totals.select(
        F.col("_s").alias("source_b"), F.col("_tot").alias("grams_b")
    )
    return (
        shared.join(F.broadcast(ta), on="source_a")
        .join(F.broadcast(tb), on="source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            F.col("grams_a").cast("bigint").alias("grams_a"),
            F.col("grams_b").cast("bigint").alias("grams_b"),
            F.round(
                F.col("shared_grams").cast("double")
                / (
                    F.col("grams_a") + F.col("grams_b") - F.col("shared_grams")
                ).cast("double"),
                9,
            ).alias("jaccard"),
        )
    )


def source_overlap_oracle_sql(n: int = 8) -> str:
    """DuckDB SQL equal to source_overlap: same normalization, gram
    fingerprints, distinct source-gram sets, pair join, and Jaccard."""
    return f"""
        WITH w AS (
          SELECT source,
                 string_split({normalize_text_sql()}, ' ') AS wl
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT DISTINCT source,
                 md5(array_to_string(wl[u.i:(u.i + {n} - 1)], ' ')) AS g
          FROM w, unnest(generate_series(1, len(wl) - {n} + 1)) AS u(i)
          WHERE len(wl) >= {n}
        ), tot AS (
          SELECT source, count(*) AS t FROM grams GROUP BY source
        ), shared AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 CAST(count(*) AS BIGINT) AS shared_grams
          FROM grams a JOIN grams b
            ON a.g = b.g AND a.source < b.source
          GROUP BY a.source, b.source
        )
        SELECT source_a, source_b, shared_grams,
               CAST(ta.t AS BIGINT) AS grams_a,
               CAST(tb.t AS BIGINT) AS grams_b,
               round(CAST(shared_grams AS DOUBLE)
                     / CAST(ta.t + tb.t - shared_grams AS DOUBLE), 9)
                 AS jaccard
        FROM shared
        JOIN tot ta ON shared.source_a = ta.source
        JOIN tot tb ON shared.source_b = tb.source"""


def _fanout_by_id(
    df: DataFrame, id_col: str, scan: DataFrame | None = None
) -> DataFrame:
    """Hash-repartition ``df`` on its id ONLY when the incoming plan is
    under-parallel (fewer partitions than defaultParallelism), judged on
    ``scan`` (default ``df``).

    The shingle/verify builders need their row-amplified explode spread
    across the cluster, and a COMPACT local scan (one file, few row
    groups) otherwise funnels it into a handful of tasks — but the
    repartition moves the full TEXT payload, and at 100 TB the scan
    already carries thousands of splits, so an unconditional shuffle
    of the corpus bytes is pure waste (round 15; the guide's "keep
    scale-dependent partitioning adaptive, not tuned for local").
    Values are partitioning-invariant downstream (exact-integer min
    aggs / set ops — the 32/7 invariance probes pin this), so the
    branch changes only the plan.

    ``getNumPartitions()`` must see a plan without exchanges: on one
    with an exchange (a join, a distinct) AQE runs the stages below it
    as real jobs just to answer, and the final action runs them again.
    Callers that filter ``df`` through a join pass the scan-side input
    as ``scan``."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    if (df if scan is None else scan).rdd.getNumPartitions() >= n_part:
        return df
    return df.repartition(n_part, F.col(id_col))


def _shingle_expr(text_norm, k: int):
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length(_txt) - {k} + 1, 0)), "
            f"i -> substring(_txt, i, {k}))"
        )
    )


_MERSENNE = (1 << 31) - 1


def _portable_hash32(col):
    """32-bit hash computable identically in Spark and ANSI-SQL engines:
    first 8 hex digits of md5, parsed as an unsigned integer.  Slower than
    murmur3 (md5 + string slice) but lets the DuckDB oracle replay the
    whole dedup pipeline bit-for-bit; use ``portable=True`` on the dedup
    entry points to select it."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _perm_params(num_hashes: int, seed: int = 13):
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes)
    b = rng.integers(0, _MERSENNE, size=num_hashes)
    return a, b


def minhash_signatures(
    docs: DataFrame,
    k: int = 5,
    num_hashes: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per doc: (id, sig ARRAY<INT>[num_hashes]).

    One murmur3 base hash per shingle, then ``num_hashes`` universal-hash
    permutations h_j(x) = (a_j*x + b_j) mod (2^31-1) as plain min
    aggregations — fully codegen'd with map-side partial min, one shuffle
    keyed by doc id.  (The naive per-permutation re-hash builds a huge
    interpreted expression tree and is ~50x slower.)  The aggregates and
    the ``sig`` array are written as SQL text: the same plans as the
    ``F.min(...).cast().alias()`` form, built in ~0.02 s instead of
    ~0.8 s on the driver (ARCHITECTURE.md "Driver-side build cost").
    """
    a, b = _perm_params(num_hashes)
    norm = normalize_text(F.col(text_col))
    # Fan out BEFORE the shingle explode (conditional — see
    # _fanout_by_id): a compact documents scan (one file / few row
    # groups) otherwise leaves the ~text_len× row-amplified explode and
    # the 64 min-aggregations in a handful of tasks.  The count must be
    # explicit — AQE sizes partitions by the pre-explode bytes (tiny)
    # and would coalesce right back to one task.  Keying by id makes
    # the groupBy's partial agg the final agg (rows for one doc never
    # split), so the explode output itself never shuffles.  The null
    # filter must be this cheap column test: a size(shingles) > 0
    # predicate gets pushed below the repartition and re-runs the whole
    # shingle build single-task.
    docs = _fanout_by_id(
        docs.filter(F.col(text_col).isNotNull()), id_col
    )
    # Shingles as explode(index range) + substring-per-row: no per-doc
    # array materialization, no array_distinct — MIN over duplicate
    # shingle hashes equals MIN over the distinct set.
    shingle = F.col("_txt").substr(F.col("_i"), F.lit(k))
    base_hash = (
        _portable_hash32(shingle) if portable else F.hash(shingle).cast("bigint")
    ).bitwiseAND(F.lit(0x7FFFFFFF))
    sh = (
        docs.select(F.col(id_col), norm.alias("_txt"))
        .select(
            id_col,
            "_txt",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("_txt") - (k - 1), F.lit(1))
                )
            ).alias("_i"),
        )
        .select(id_col, base_hash.alias("_x"))
    )
    # SQL text, not Column-API calls: each F.*/Column call costs 3-13
    # py4j round trips (PySpark 4 records its call site), ~6900 and
    # ~0.8 s for these 64 aggregates + the array; the plans are the same
    aggs = [
        F.expr(f"CAST(min((_x * {int(a[j])} + {int(b[j])}) % {_MERSENNE}) AS INT) AS _h{j}")
        for j in range(num_hashes)
    ]
    agg = sh.groupBy(id_col).agg(*aggs)
    hs = ", ".join(f"_h{j}" for j in range(num_hashes))
    return agg.select(F.col(id_col), F.expr(f"array({hs}) AS sig"))


def minhash_lsh_pairs(
    signatures: DataFrame,
    bands: int = 8,
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band
    bucket.  Returns distinct (a, b) with a < b.

    With num_hashes = bands*rows, collision prob ≈ 1-(1-J^rows)^bands;
    the default 8 bands × 8 rows targets the ~0.8-Jaccard knee
    ((1/b)^(1/r) ≈ 0.77) — 16×4 banding admits ~half of all J=0.5
    pairs as candidates, which goes quadratic on self-similar corpora.

    Pairing is a single groupBy on (band, band_sig) followed by
    in-bucket pair generation, NOT a banded-self-join: a self-join
    re-executes the entire upstream signature subtree per join side
    (differing output aliases defeat ReusedExchange) and shuffles it
    twice.  Bucket gather holds one ids array per bucket — bytes per
    member — while the quadratic term (m²/2 pairs from an m-doc bucket)
    is identical in both formulations and is handled downstream by
    exact verification.
    """
    sigs = signatures
    r = F.floor(F.size("sig") / bands).cast("int")

    def _band_sig(b):
        sl = F.slice(F.col("sig"), b * r + 1, r)
        if portable:
            # md5 over the comma-joined decimal values — replayable in
            # any SQL engine, same join key semantics (no collisions
            # across bands thanks to the band column in the join key)
            return F.md5(F.concat_ws(",", sl.cast("array<string>")))
        return F.hash(sl.cast("array<int>"), F.lit(42))

    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), _band_sig(b).alias("bsig")),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bsig")
    return (
        banded.groupBy("band", "bsig")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                # ascending ids -> every generated pair already has a < b
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .distinct()
    )


def _shingle_pairs(docs, pairs, k, text_col, id_col):
    """The candidate pairs (a, b) joined to both docs' k-shingle sets
    ``sh_a`` / ``sh_b`` and their exact intersection size ``inter``: the
    shared front of :func:`jaccard_verify` and :func:`containment_verify`.
    Only docs named in a pair build a shingle set."""
    norm = normalize_text(F.col(text_col))
    # `pairs` feeds THREE consumers below (the semi-join id list twice —
    # once under sh_a, once under sh_b — plus the verify join itself).
    # Without materialization each consumer re-executes the entire
    # upstream candidate pipeline (shingle explode + 64 min-aggs +
    # banding: the dominant pass, 3x at any scale — observed 8 parquet
    # scans and zero ReusedExchange in the physical plan).  Candidates
    # are tiny relative to the corpus, so one eager localCheckpoint is
    # safe; every consumer — inside this plan or in whatever larger lazy
    # plan a caller folds the result into — then reads the materialized
    # blocks, whose lifetime is the plan reference's.  The round-8..13
    # persist + finalizer version released the cache when the VERIFY
    # RESULT was dropped, which for callers that compose the result into
    # a larger lazy plan and drop the intermediate at return (
    # minhash_dedup, triangle_count/k_core/label_propagation builders)
    # fired before the outer action ever ran — measured 3 full candidate
    # pipeline executions and 24 parquet scans in minhash_dedup's plan
    # (round-14 optimization, guide §2.4: remove repeated subtree
    # execution outright rather than refcounting a cache around it).
    pairs = pairs.localCheckpoint(eager=True)
    # Restrict the shingle-set build to docs that appear in a candidate
    # pair BEFORE building arrays: candidates << corpus at scale, and
    # this subtree executes once per join side below — filtering makes
    # the recompute trivial instead of two full-corpus shingle passes.
    cand_ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    # fan the per-doc shingle-set build out of the compact scan's few
    # input partitions when under-parallel (see _fanout_by_id; judged
    # on the scan, not the semi-join)
    docs = _fanout_by_id(
        docs.join(cand_ids, on=id_col, how="left_semi"), id_col, scan=docs
    )
    sh = docs.select(F.col(id_col), norm.alias("_txt")).withColumn(
        "sh", _shingle_expr(F.col("_txt"), k)
    ).select(id_col, "sh")
    return (
        pairs.join(sh.withColumnRenamed(id_col, "a").withColumnRenamed("sh", "sh_a"), on="a")
        .join(sh.withColumnRenamed(id_col, "b").withColumnRenamed("sh", "sh_b"), on="b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint"))
    )


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 5,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_counts: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only: (a, b, jaccard);
    ``with_counts=True`` adds the exact integer ``inter``/``union_sz``
    shingle-set sizes (for pooled-cohesion metrics that must aggregate
    order-independently)."""
    j = (
        _shingle_pairs(docs, pairs, k, text_col, id_col)
        .withColumn("union_sz", F.size(F.array_union("sh_a", "sh_b")).cast("bigint"))
        .withColumn("jaccard", F.col("inter") / F.col("union_sz"))
        .select(
            "a", "b", "jaccard",
            *(("inter", "union_sz") if with_counts else ()),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def containment_verify(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Directed shingle containment on candidate pairs: for each LSH
    candidate (a, b) with at least one shared k-shingle, the exact set
    sizes and both directed containment ratios |A∩B|/|A| and |A∩B|/|B|.

    Containment is the asymmetric near-dup signal Jaccard misses: a short
    document quoted whole inside a long one has low Jaccard (the union is
    dominated by the long side) but containment ~1.0 in the short->long
    direction — the quote/subset-detection pass of a corpus dedup stack.

    Same scale shape as :func:`jaccard_verify`: candidates only (never
    all-pairs), semi-join restriction of the shingle-set build to docs
    named in a pair, per-pair set ops over bounded arrays.  Each ratio is
    one exact-int64 division — order-invariant.
    """
    return (
        _shingle_pairs(docs, pairs, k, text_col, id_col)
        .filter(F.col("inter") > 0)
        .withColumn("n_a", F.size("sh_a").cast("bigint"))
        .withColumn("n_b", F.size("sh_b").cast("bigint"))
        .select(
            "a",
            "b",
            "inter",
            "n_a",
            "n_b",
            F.round(
                F.col("inter").cast("double") / F.col("n_a").cast("double"), 9
            ).alias("cont_a"),
            F.round(
                F.col("inter").cast("double") / F.col("n_b").cast("double"), 9
            ).alias("cont_b"),
        )
    )


def containment_verify_oracle_sql(k: int = 5) -> str:
    """DuckDB replay of LSH candidates -> :func:`containment_verify`
    (portable hashes): the ``shd``/``sz``/``inter`` chain of
    :func:`_verify_ctes` re-used, ratios from the same exact counts."""
    return (
        _cand_ctes(k, 64, 8)
        + _verify_ctes(k, 0.0)
        + """
        SELECT i.a, i.b, CAST(i.i AS BIGINT) AS inter,
               CAST(za.n AS BIGINT) AS n_a, CAST(zb.n AS BIGINT) AS n_b,
               round(CAST(i.i AS DOUBLE) / CAST(za.n AS DOUBLE), 9) AS cont_a,
               round(CAST(i.i AS DOUBLE) / CAST(zb.n AS DOUBLE), 9) AS cont_b
        FROM inter i
        JOIN sz za ON za.doc_id = i.a
        JOIN sz zb ON zb.doc_id = i.b"""
    )


def minhash_dedup(
    docs: DataFrame,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> Jaccard
    verify -> keep the smallest id of each connected pair-cluster
    (single-link via min-propagation is approximated by one round of
    min(a) per b — exact for pair clusters, documented approximation for
    longer chains)."""
    sigs = minhash_signatures(docs, k, num_hashes, text_col, id_col, portable)
    cand = minhash_lsh_pairs(sigs, bands, id_col, portable)
    dup = jaccard_verify(docs, cand, k, threshold, text_col, id_col)
    # survivors: docs never appearing as the larger id of a verified pair
    losers = dup.select(F.col("b").alias(id_col)).distinct()
    return docs.join(losers, on=id_col, how="left_anti")


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    include_self_pairs: bool = True,
) -> DataFrame:
    """Exact connected components of the undirected graph given as
    (a, b) pairs: (id, component) for every node appearing in a pair
    (including nodes that only appear in self-pairs a == b, which are
    their own singleton components), component = the minimum node id in
    its component.  Raises if the contraction has not reached its fixed
    point within ``max_iter`` rounds — the star-extraction step below is
    only valid at the fixed point, so a truncated run would silently
    emit multiple labels per node.

    ``include_self_pairs=False`` skips the singleton-labeling pass (one
    extra read of ``pairs``) — pass it when the pair source structurally
    guarantees a < b (LSH banding, jaccard_verify output).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round rewires
    every node's larger neighbors (large-star) then its not-larger
    neighbors (small-star) to the local minimum, converging to
    per-component stars in O(log d) rounds instead of the O(d) of plain
    min-label propagation — the difference between 4 and 40 shuffles on
    the long chains a 100-TB corpus's transitive near-dup clusters can
    form.  Each half-round is one groupBy-min plus one re-join of the
    edge list (both shuffles on the node id, broadcast-free).  The edge
    list is ``localCheckpoint``-ed per round so the plan does not double;
    convergence moves one (count, hash) row to the driver, never edges.
    """
    # canonical representation: every edge stored once as (x, y), x > y —
    # the symmetric view needed for neighborhood minima is a free narrow
    # union of the two projections, and each star emits canonical rows
    # directly, so no round ever doubles-and-distincts a mirrored copy
    big, small = F.greatest(F.col(a_col), F.col(b_col)), F.least(
        F.col(a_col), F.col(b_col)
    )
    edges = (
        pairs.select(big.alias("x"), small.alias("y"))
        .filter(F.col("x") != F.col("y"))
        .distinct()
        # lazy: the signature aggregation below is the materializing
        # action, so each round costs ONE job instead of two (eager
        # checkpoint + signature) — pure scheduling overhead on small
        # graphs, and at scale it avoids a second full pass per round
        .localCheckpoint(eager=False)
    )

    def _signature(e: DataFrame):
        return tuple(
            e.agg(
                F.count("*"),
                F.coalesce(F.expr("bit_xor(xxhash64(x, y))"), F.lit(0)),
            ).first()
        )

    def _large_star(e: DataFrame) -> DataFrame:
        # m(u) = min(N(u) ∪ {u}); connect every strictly-larger neighbor
        # v of u to m(u).  Larger neighbors of u are exactly the rows of
        # the canonical set with y = u, and x > u >= m keeps the output
        # canonical with no self-loops.
        adj = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
        mins = adj.groupBy("x").agg(F.min("y").alias("_mn"))
        mins = mins.select(
            F.col("x").alias("_u"), F.least(F.col("x"), F.col("_mn")).alias("_m")
        )
        return (
            e.join(mins, e.y == mins._u)
            .select("x", F.col("_m").alias("y"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # over the not-larger neighborhood of u (canonical rows x = u):
        # connect every member and u itself to its minimum m; y >= m and
        # u > m keep the output canonical.
        mins = e.groupBy("x").agg(F.min("y").alias("_m"))
        nbr = (
            e.join(mins, "x")
            .filter(F.col("y") != F.col("_m"))
            .select(F.col("y").alias("x"), F.col("_m").alias("y"))
        )
        self_e = mins.select("x", F.col("_m").alias("y"))
        return nbr.union(self_e).distinct()

    sig = _signature(edges)
    converged = False
    # per-round edge tables are |E| two-column rows; coalesce each
    # round's shuffles to advisory size (the _signature action inside
    # the loop materializes every round within this scope)
    with session.small_intermediate_coalesce(pairs.sparkSession):
        for _ in range(max_iter):
            nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
            nsig = _signature(nxt)
            edges = nxt
            if nsig == sig:
                converged = True
                break
            sig = nsig
    if not converged:
        # O(log d) rounds means max_iter=50 covers any graph that fits
        # on disk; hitting this indicates a bug, not a big input.
        raise RuntimeError(
            f"connected_components: star contraction did not reach its "
            f"fixed point in {max_iter} rounds; labels extracted from a "
            f"truncated run would not be unique per node"
        )
    # converged: every component is a star centered at its minimum, so the
    # canonical rows ARE the (node -> component) labels for non-centers
    down = edges.select(F.col("x").alias("id"), F.col("y").alias("comp")).distinct()
    centers = (
        edges.select(F.col("y").alias("id"))
        .distinct()
        .join(down.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("comp"))
    )
    labeled = down.union(centers)
    if not include_self_pairs:
        return labeled.select("id", F.col("comp").alias("component"))
    # nodes that only ever appear as self-pairs (a == b) never enter the
    # canonical edge set; label them as their own singleton components so
    # the contract above holds for every node appearing in a pair.  This
    # branch re-reads ``pairs`` lazily — callers passing an expensive
    # pair plan should localCheckpoint it first
    lone = (
        pairs.filter(F.col(a_col) == F.col(b_col))
        .select(F.col(a_col).alias("id"))
        .distinct()
        .join(labeled.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("comp"))
    )
    return labeled.union(lone).select("id", F.col("comp").alias("component"))


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    portable: bool = False,
) -> DataFrame:
    """SimHash over whitespace tokens: sign-sum of per-token hash bits.

    (id, simhash BIGINT).  Near-dups share buckets; Hamming distance
    verification would follow the same candidate-join pattern as LSH.
    """
    norm = normalize_text(F.col(text_col))
    # same compact-scan fan-out as minhash_signatures: spread the token
    # explode + 32 sum-aggregations across tasks, partial agg == final
    docs = _fanout_by_id(docs, id_col)
    toks = docs.select(F.col(id_col), F.explode(F.split(norm, " ")).alias("tok")).filter(
        F.length("tok") > 0
    )
    tok_hash = _portable_hash32(F.col("tok")) if portable else F.hash("tok").cast("bigint")
    toks = toks.withColumn("h", tok_hash)
    # bit b contributes +1 if set else -1; sum over tokens; sign -> bit.
    # SQL text, as in minhash_signatures: the Column-API form of these
    # aggregates costs ~5500 py4j round trips per build; the plans are
    # the same
    bit_cols = [
        F.expr(f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1 THEN 1 ELSE -1 END) AS b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_cols)
    sim = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return agg.select(F.col(id_col), F.expr(f"{sim} AS simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: split the ``bits``-bit simhash into
    ``max_hamming + 1`` bands; any pair within distance d must agree
    exactly on >= 1 band, so candidates come from one groupBy on
    (band, band_bits) with in-bucket pair generation — never O(n²), and
    the simhash subtree (token explode + ``bits`` sum-aggs) executes
    exactly once, where a banded self-join would run it per join side —
    then exact verification via bit_count(xor).  Returns
    (a, b, hamming), a < b.
    """
    nb = max_hamming + 1
    width = bits // nb
    sh = simhash(docs, text_col, id_col, bits, portable)

    def _band(b):
        w = width + (bits % nb if b == nb - 1 else 0)  # last band takes the remainder
        return F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << w) - 1))
            .alias("bb"),
        )

    banded = sh.select(
        id_col,
        "simhash",
        F.explode(F.array(*[_band(b) for b in range(nb)])).alias("bd"),
    ).select(id_col, "simhash", "bd.band", "bd.bb")
    return (
        banded.groupBy("band", "bb")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh"))
                )
            ).alias("ds")
        )
        .filter(F.size("ds") > 1)
        .select(
            F.explode(
                # sort is by (id, sh); ids are unique so pairs have a < b
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x.id AS a, y.id AS b, x.sh AS sha, y.sh AS shb))))"
                )
            ).alias("p")
        )
        .select(
            "p.a",
            "p.b",
            F.bit_count(F.col("p.sha").bitwiseXOR(F.col("p.shb"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# DuckDB oracle-SQL generators (portable-hash replay of the pipelines above)
# ---------------------------------------------------------------------------

_HASH32_SQL = "(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def _sig_ctes(k: int, num_hashes: int) -> str:
    """Shared CTE prefix: normalized text -> shingle hashes -> wide
    minhash signature columns h0..h{n-1} (same permutation constants as
    ``minhash_signatures``)."""
    a, b = _perm_params(num_hashes)
    shingle_hash = _HASH32_SQL.format(expr=f"substring(txt, u.i, {k})")
    mins = ",\n             ".join(
        f"CAST(MIN((x * {int(a[j])} + {int(b[j])}) % {_MERSENNE}) AS INTEGER) AS h{j}"
        for j in range(num_hashes)
    )
    return f"""
        WITH norm AS (
          SELECT doc_id, {normalize_text_sql()} AS txt
          FROM documents WHERE text IS NOT NULL
        ), sh AS (
          SELECT doc_id, ({shingle_hash} & {0x7FFFFFFF}) AS x
          FROM norm, unnest(generate_series(1, greatest(length(txt) - {k - 1}, 1))) AS u(i)
        ), sig AS (
          SELECT doc_id,
             {mins}
          FROM sh GROUP BY doc_id
        )"""


def minhash_signatures_oracle_sql(k: int = 5, num_hashes: int = 64) -> str:
    """DuckDB SQL equal to minhash_signatures(portable=True), exploded to
    one (doc_id, j, h) row per signature slot."""
    arms = "\n          UNION ALL ".join(
        f"SELECT doc_id, CAST({j} AS INTEGER) AS j, h{j} AS h FROM sig"
        for j in range(num_hashes)
    )
    return _sig_ctes(k, num_hashes) + f"\n        {arms}"


def _cand_ctes(k: int = 5, num_hashes: int = 64, bands: int = 8) -> str:
    """CTE chain through LSH candidate pairs ``cand(a, b)``: signatures
    -> banding -> distinct banded matches."""
    r = num_hashes // bands
    band_arms = "\n          UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws(',', {cols})) AS bsig FROM sig".format(
            b=b,
            cols=", ".join(f"h{b * r + j}::VARCHAR" for j in range(r)),
        )
        for b in range(bands)
    )
    return (
        _sig_ctes(k, num_hashes)
        + f""", banded AS (
          {band_arms}
        ), cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM banded x JOIN banded y
            ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id
        )"""
    )


def _verify_ctes(k: int, threshold: float, cand: str = "cand") -> str:
    """CTE chain from a candidate relation ``cand(a, b)`` to verified
    pairs ``vp(a, b)`` via exact shingle-Jaccard."""
    return f""", shd AS (
          SELECT DISTINCT doc_id, substring(txt, u.i, {k}) AS s
          FROM norm, unnest(generate_series(1, greatest(length(txt) - {k - 1}, 1))) AS u(i)
        ), sz AS (
          SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
        ), inter AS (
          SELECT c.a, c.b, count(*) AS i
          FROM {cand} c
          JOIN shd sa ON sa.doc_id = c.a
          JOIN shd sb ON sb.doc_id = c.b AND sb.s = sa.s
          GROUP BY c.a, c.b
        ), vp AS (
          SELECT i.a, i.b
          FROM inter i
          JOIN sz za ON za.doc_id = i.a
          JOIN sz zb ON zb.doc_id = i.b
          WHERE CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i) >= {threshold}
        )"""


def _vpairs_ctes(
    k: int = 5, num_hashes: int = 64, bands: int = 8, threshold: float = 0.8
) -> str:
    """CTE chain through verified near-dup pairs ``vp(a, b)``: signatures
    -> LSH banding -> candidates -> exact-Jaccard verification."""
    return _cand_ctes(k, num_hashes, bands) + _verify_ctes(k, threshold)


def lsh_candidates_sql(
    k: int = 5, num_hashes: int = 64, bands: int = 8
) -> str:
    """DuckDB query selecting the portable-md5 LSH candidate pairs
    ``(ref_id, cand_id)`` — the composition hook for verify-stage
    operators (rouge_verify, jaccard/containment/levenshtein gates)
    that consume candidates rather than re-deriving them."""
    return (
        _cand_ctes(k, num_hashes, bands)
        + """
        SELECT a AS ref_id, b AS cand_id FROM cand"""
    )


def minhash_dedup_oracle_sql(
    k: int = 5, num_hashes: int = 64, bands: int = 8, threshold: float = 0.8
) -> str:
    """DuckDB SQL equal to minhash_dedup(portable=True): LSH banding,
    exact-Jaccard verification, then survivors (doc_id, lang, source)."""
    return (
        _vpairs_ctes(k, num_hashes, bands, threshold)
        + """
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT b FROM vp)"""
    )


def triangle_count_oracle_sql(
    k: int = 5, num_hashes: int = 64, bands: int = 8, threshold: float = 0.8
) -> str:
    """DuckDB SQL equal to triangle_count over the verified pair graph:
    same ordered-vertex wedge enumeration and 3-way explode."""
    return (
        _vpairs_ctes(k, num_hashes, bands, threshold)
        + """, tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM vp e1
          JOIN vp e2 ON e1.b = e2.a
          JOIN vp e3 ON e3.a = e1.a AND e3.b = e2.b
        ), nodes AS (
          SELECT x AS id FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri
        )
        SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
        FROM nodes GROUP BY id"""
    )


def minhash_estimate_oracle_sql(
    k: int = 5, num_hashes: int = 64, bands: int = 8
) -> str:
    """DuckDB SQL equal to the minhash_estimate gate query: candidate
    pairs with matching-signature-slot counts and exact shingle
    Jaccard (zero-intersection candidates emit jaccard 0)."""
    match_sum = " + ".join(
        f"(CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return (
        _vpairs_ctes(k, num_hashes, bands, threshold=0.0)
        + f"""
        SELECT c.a, c.b,
               CAST({match_sum} AS BIGINT) AS est_matches,
               round(CAST({match_sum} AS BIGINT)
                     / CAST({float(num_hashes)} AS DOUBLE), 9) AS jaccard_est,
               round(CAST(coalesce(i.i, 0) AS DOUBLE)
                     / (za.n + zb.n - coalesce(i.i, 0)), 9) AS jaccard_exact
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a
        JOIN sig sb ON sb.doc_id = c.b
        LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
        JOIN sz za ON za.doc_id = c.a
        JOIN sz zb ON zb.doc_id = c.b"""
    )


def dedup_clusters_oracle_sql(
    k: int = 5, num_hashes: int = 64, bands: int = 8, threshold: float = 0.8
) -> str:
    """DuckDB SQL equal to connected_components over the verified pair
    graph: recursive transitive closure, then min reachable id per node.
    (The Spark side iterates min-label propagation to a fixpoint; the
    oracle materializes full reachability — fine at oracle scale, and the
    two agree exactly because both compute min-id-in-component.)"""
    sql = (
        _vpairs_ctes(k, num_hashes, bands, threshold)
        + """, und AS (
          SELECT a AS x, b AS y FROM vp UNION SELECT b AS x, a AS y FROM vp
        ), reach(id, comp) AS (
          SELECT x, x FROM und
          UNION
          SELECT u.x, r.comp FROM reach r JOIN und u ON u.y = r.id
        )
        SELECT id AS doc_id, MIN(comp) AS component FROM reach GROUP BY id"""
    )
    return sql.replace("WITH norm", "WITH RECURSIVE norm", 1)


def _simhash_ctes(bits: int) -> str:
    """CTE chain norm -> toks -> bs -> sh replaying simhash(portable=True)."""
    tok_hash = _HASH32_SQL.format(expr="u.tok")
    return f"""
        WITH norm AS (
          SELECT doc_id, {normalize_text_sql()} AS txt
          FROM documents WHERE text IS NOT NULL
        ), toks AS (
          SELECT doc_id, {tok_hash} AS h
          FROM norm, unnest(string_split(txt, ' ')) AS u(tok)
          WHERE length(u.tok) > 0
        ), bs AS (
          SELECT doc_id, u.b AS b,
                 SUM(CASE WHEN ((h >> u.b) & 1) = 1 THEN 1 ELSE -1 END) AS s
          FROM toks, unnest(generate_series(0, {bits - 1})) AS u(b)
          GROUP BY doc_id, u.b
        ), sh AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
                   AS simhash
          FROM bs GROUP BY doc_id
        )"""


def simhash_oracle_sql(bits: int = 32) -> str:
    """DuckDB SQL equal to simhash(portable=True)."""
    return _simhash_ctes(bits) + "\n        SELECT doc_id, simhash FROM sh"


def simhash_pairs_oracle_sql(max_hamming: int = 3, bits: int = 32) -> str:
    """DuckDB SQL equal to simhash_pairs(portable=True): pigeonhole band
    join + exact Hamming verification."""
    nb = max_hamming + 1
    width = bits // nb
    arms = "\n          UNION ALL ".join(
        "SELECT doc_id, simhash, {b} AS band, "
        "(simhash >> {sh}) & {mask} AS bb FROM sh".format(
            b=b,
            sh=b * width,
            mask=(1 << (width + (bits % nb if b == nb - 1 else 0))) - 1,
        )
        for b in range(nb)
    )
    return (
        _simhash_ctes(bits)
        + f"""
        , banded AS (
          {arms}
        )
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
        FROM banded x
        JOIN banded y ON x.band = y.band AND x.bb = y.bb AND x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}"""
    )


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CDC-style corpus version diff: classify every document as added,
    deleted, or modified between snapshot ``a`` (old) and ``b`` (new) —
    the incremental-refresh primitive of a recurring crawl/training-data
    pipeline (only re-process what changed, tombstone what vanished).

    One full outer join on the id key comparing normalized-text md5
    fingerprints; unchanged rows are dropped before anything downstream
    sees them.  Scale shape: both sides shuffle once on the id (or not
    at all if both snapshots are bucketed/partitioned on it); the
    fingerprint is computed scan-side so the join carries (id, 32-byte
    hash), never the text.

    Returns (id, status) with status in {'added', 'deleted', 'modified'}.
    """
    # presence markers, NOT fingerprint nullity: md5(NULL text) is NULL,
    # which would make a NULL-text document indistinguishable from an
    # absent row and misclassify it
    fa = a.select(
        F.col(id_col).alias("_id"),
        F.md5(normalize_text(F.col(text_col))).alias("_fa"),
        F.lit(1).alias("_ina"),
    )
    fb = b.select(
        F.col(id_col).alias("_id"),
        F.md5(normalize_text(F.col(text_col))).alias("_fb"),
        F.lit(1).alias("_inb"),
    )
    j = fa.join(fb, on="_id", how="full_outer")
    status = (
        F.when(F.col("_ina").isNull(), "added")
        .when(F.col("_inb").isNull(), "deleted")
        .when(
            ~F.col("_fa").eqNullSafe(F.col("_fb")), "modified"
        )
    )
    return (
        j.select(F.col("_id").alias(id_col), status.alias("status"))
        .filter(F.col("status").isNotNull())
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 12,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """The ``k``-core of the undirected pair graph: the maximal subgraph
    in which every node has degree >= ``k`` — on a near-dup graph it
    separates genuinely dense duplicate families (cores) from the
    borderline chains and stars that single-linkage components glue
    together, the fourth iterative-algorithm shape beside connected
    components, PageRank, and k-means.

    Iterative peeling: each round computes degrees and drops every edge
    touching a node with degree < k.  The step is IDEMPOTENT at the
    fixed point, so running any number of rounds >= the true peeling
    depth yields the k-core exactly — the loop breaks early at the
    fixed point (one edge-count row to the driver per round, never
    edges) and RAISES if ``rounds`` did not converge, because the
    DuckDB oracle unrolls exactly ``rounds`` idempotent steps and a
    truncated peel would silently return a supergraph.

    Scale shape per round: one degree aggregation (map-side combined)
    plus two semi joins of the shrinking edge list against the
    surviving-node table, all keyed on node ids; lineage is cut per
    round with an eager localCheckpoint (the connected_components /
    pagerank discipline).  Peeling depth is bounded by the graph's
    degeneracy ordering — a handful of rounds on near-dup graphs.

    Returns (id, core_degree) for k-core members, core_degree = the
    node's degree WITHIN the core.
    """
    e = (
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    converged = False
    n_edges = e.count()
    with session.small_intermediate_coalesce(edges.sparkSession):
        for _ in range(rounds):
            if n_edges == 0:
                converged = True
                break
            und = e.select(F.col("a").alias("x")).union(
                e.select(F.col("b").alias("x"))
            )
            keep = (
                und.groupBy("x")
                .agg(F.count("*").alias("_d"))
                .filter(F.col("_d") >= k)
                .select("x")
            )
            ne = (
                e.join(keep.withColumnRenamed("x", "a"), on="a", how="left_semi")
                .join(keep.withColumnRenamed("x", "b"), on="b", how="left_semi")
                .select("a", "b")
                .localCheckpoint(eager=True)
            )
            n_new = ne.count()
            if n_new == n_edges:
                converged = True
                break
            e, n_edges = ne, n_new
    if not converged:
        raise RuntimeError(
            f"k_core: peeling did not reach its fixed point in {rounds} "
            f"rounds; the unrolled oracle would compare against a "
            f"truncated (super-)graph"
        )
    return (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )


def k_core_oracle_sql(
    core_k: int = 2,
    rounds: int = 12,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of :func:`k_core` over the verified MinHash pair
    graph: the vp CTE chain, then ``rounds`` unrolled peeling steps —
    idempotent past the fixed point, and the Spark side raises unless
    it converged within the same ``rounds``, so both engines peel to
    the identical core."""
    ctes = [
        _vpairs_ctes(k, num_hashes, bands, threshold),
        """, e0 AS MATERIALIZED (
          SELECT a, b FROM vp WHERE a <> b
        )""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f""", d{i} AS (
          SELECT x, count(*) AS c FROM (
            SELECT a AS x FROM e{i-1} UNION ALL SELECT b AS x FROM e{i-1}
          ) GROUP BY x
        ), s{i} AS (SELECT x FROM d{i} WHERE c >= {core_k}),
        e{i} AS MATERIALIZED (
          SELECT a, b FROM e{i-1}
          WHERE a IN (SELECT x FROM s{i}) AND b IN (SELECT x FROM s{i})
        )"""
        )
    return (
        "".join(ctes)
        + f"""
        SELECT x AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
        FROM (
          SELECT a AS x FROM e{rounds} UNION ALL SELECT b AS x FROM e{rounds}
        ) GROUP BY x"""
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Synchronous label propagation over the undirected pair graph:
    every node starts labeled with its own id; each round it adopts the
    most frequent label among its neighbors AND itself, ties broken by
    the SMALLEST label.  Communities denser than their surroundings
    converge to one label — on a near-dup graph this splits the giant
    single-linkage component into families connected only by thin
    bridges, the structure connected components cannot see.

    Determinism contract: classic LPA iterates to convergence with
    RANDOM tie-breaks and can oscillate under synchronous updates; this
    variant runs a FIXED ``rounds`` synchronous rounds with a total
    tie-break order (count DESC, label ASC) and self-inclusion (which
    damps two-cycle oscillation), so the output is a pure function of
    the graph and both engines replay it exactly — the oracle unrolls
    the same rounds with the same tie-break.

    Scale shape per round: one |E| join against the |V|-row label
    table, a (node, label)-keyed count, and an argmax via one ordered
    struct max — all node-keyed exchanges; lineage cut per round with
    an eager checkpoint (the CC / PageRank / k-core discipline).

    Returns (id, label) after ``rounds`` rounds.
    """
    und = (
        _undirected(edges, a_col, b_col)
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    # keyed on y, the key every round's vote join uses
    with session.stationary(und, "y") as und:
        labels = (
            und.select(F.col("x").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("label"))
            .localCheckpoint(eager=True)
        )
        for _ in range(rounds):
            votes = (
                und.join(
                    labels.select(
                        F.col("id").alias("y"), F.col("label")
                    ),
                    on="y",
                )
                .select(F.col("x").alias("id"), "label")
                .union(labels.select("id", "label"))  # self-vote
                .groupBy("id", "label")
                .agg(F.count("*").alias("_c"))
            )
            # argmax by (count DESC, label ASC): max of (count, -label)
            labels = (
                votes.groupBy("id")
                .agg(
                    F.max(F.struct(F.col("_c"), (-F.col("label")).alias("_nl")))
                    .alias("_m")
                )
                .select("id", (-F.col("_m._nl")).alias("label"))
                .localCheckpoint(eager=True)
            )
    return labels


def _label_prop_ctes(
    rounds: int = 4,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """CTE chain through the label-propagation rounds: verified pairs
    ``vp`` -> symmetric edges ``und`` -> ``l0`` .. ``l{rounds}`` with
    the (count DESC, label ASC) tie-break — the shared prefix for the
    community queries (label_propagation, modularity)."""
    ctes = [
        _vpairs_ctes(k, num_hashes, bands, threshold),
        """, und AS MATERIALIZED (
          SELECT DISTINCT * FROM (
            SELECT a AS x, b AS y FROM vp WHERE a <> b
            UNION ALL SELECT b AS x, a AS y FROM vp WHERE a <> b
          )
        ), l0 AS (
          SELECT DISTINCT x AS id, x AS label FROM und
        )""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f""", v{i} AS (
          SELECT id, label, count(*) AS c FROM (
            SELECT und.x AS id, l{i-1}.label
            FROM und JOIN l{i-1} ON und.y = l{i-1}.id
            UNION ALL SELECT id, label FROM l{i-1}
          ) GROUP BY id, label
        ), l{i} AS MATERIALIZED (
          SELECT id, label FROM v{i}
          QUALIFY row_number() OVER (
            PARTITION BY id ORDER BY c DESC, label ASC
          ) = 1
        )"""
        )
    return "".join(ctes)


def label_propagation_oracle_sql(
    rounds: int = 4,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of :func:`label_propagation` over the verified
    MinHash pair graph: the vp CTE chain, then ``rounds`` unrolled
    synchronous majority rounds with the identical (count DESC, label
    ASC) tie-break."""
    return (
        _label_prop_ctes(rounds, k, num_hashes, bands, threshold)
        + f"""
        SELECT id AS doc_id, label FROM l{rounds}"""
    )


def modularity_oracle_sql(
    rounds: int = 4,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of the modularity query: Newman modularity of the
    label-propagation communities over the verified near-dup graph.
    Per community c: e_in (edges inside c), deg_sum (sum of member
    degrees), and the contribution e_in/m - (deg_sum)^2/(4 m^2) — all
    inputs exact int64, two divisions and one subtraction per row."""
    return (
        _label_prop_ctes(rounds, k, num_hashes, bands, threshold)
        + f""", lab AS (
          SELECT id, label FROM l{rounds}
        ), edges AS (
          SELECT a, b FROM vp WHERE a <> b
        ), mm AS (
          SELECT CAST(count(*) AS BIGINT) AS m FROM edges
        ), deg AS (
          SELECT x AS id, CAST(count(*) AS BIGINT) AS d
          FROM und GROUP BY x
        ), e_in AS (
          SELECT la.label, CAST(count(*) AS BIGINT) AS e_c
          FROM edges
          JOIN lab la ON edges.a = la.id
          JOIN lab lb ON edges.b = lb.id
          WHERE la.label = lb.label
          GROUP BY la.label
        ), d_c AS (
          SELECT la.label,
                 CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(deg.d) AS BIGINT) AS deg_sum
          FROM deg JOIN lab la ON deg.id = la.id
          GROUP BY la.label
        )
        SELECT d_c.label, d_c.n_nodes,
               CAST(coalesce(e_in.e_c, 0) AS BIGINT) AS e_in,
               d_c.deg_sum,
               round(CAST(coalesce(e_in.e_c, 0) AS DOUBLE)
                       / CAST(mm.m AS DOUBLE)
                     - CAST(d_c.deg_sum * d_c.deg_sum AS DOUBLE)
                       / CAST(4 * mm.m * mm.m AS DOUBLE), 9)
                 AS contribution
        FROM d_c
        LEFT JOIN e_in ON d_c.label = e_in.label
        CROSS JOIN mm"""
    )


def assortativity_oracle_sql(
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of the degree-assortativity query: Pearson
    correlation of endpoint degrees over the DIRECTED (symmetrized)
    edge list of the verified near-dup graph.  With both directions
    present the x and y marginals coincide, so
    r = (n*Sxy - Sx^2) / (n*Sxx - Sx^2) — every sum exact int64, one
    division at the end."""
    return (
        _vpairs_ctes(k, num_hashes, bands, threshold)
        + """, und AS MATERIALIZED (
          SELECT DISTINCT * FROM (
            SELECT a AS x, b AS y FROM vp WHERE a <> b
            UNION ALL SELECT b AS x, a AS y FROM vp WHERE a <> b
          )
        ), deg AS (
          SELECT x AS id, CAST(count(*) AS BIGINT) AS d
          FROM und GROUP BY x
        ), s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(dx.d) AS BIGINT) AS sum_d,
                 CAST(sum(dx.d * dx.d) AS BIGINT) AS sum_d2,
                 CAST(sum(dx.d * dy.d) AS BIGINT) AS sum_dxdy
          FROM und
          JOIN deg dx ON und.x = dx.id
          JOIN deg dy ON und.y = dy.id
        )
        SELECT n, sum_d, sum_d2, sum_dxdy,
               round(CAST(n * sum_dxdy - sum_d * sum_d AS DOUBLE)
                     / nullif(CAST(n * sum_d2 - sum_d * sum_d AS DOUBLE),
                              0.0), 9)
                 AS assortativity
        FROM s"""
    )


def clustering_buckets_oracle_sql(
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of the clustering-coefficient distribution: per
    node with degree >= 2, the local coefficient 2*tri/(d*(d-1)) binned
    onto 10 integer buckets by pure integer floor division (operands
    non-negative, so DuckDB ``//`` and Spark ``div`` agree), bucket 9
    capped so coefficient 1.0 lands in the top bin."""
    return (
        _vpairs_ctes(k, num_hashes, bands, threshold)
        + """, edges AS (
          SELECT a, b FROM vp WHERE a <> b
        ), und AS MATERIALIZED (
          SELECT DISTINCT * FROM (
            SELECT a AS x, b AS y FROM edges
            UNION ALL SELECT b AS x, a AS y FROM edges
          )
        ), deg AS (
          SELECT x AS id, CAST(count(*) AS BIGINT) AS d
          FROM und GROUP BY x
        ), tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM edges e1
          JOIN edges e2 ON e1.b = e2.a
          JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        ), tri_n AS (
          SELECT id, CAST(count(*) AS BIGINT) AS t FROM (
            SELECT x AS id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
          ) GROUP BY id
        )
        SELECT least(9, (20 * coalesce(tri_n.t, 0))
                        // (deg.d * (deg.d - 1))) AS bucket,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(coalesce(tri_n.t, 0)) AS BIGINT) AS sum_tri
        FROM deg
        LEFT JOIN tri_n ON deg.id = tri_n.id
        WHERE deg.d >= 2
        GROUP BY 1"""
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    scale: int = 10**12,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """PageRank over an undirected pair graph (damping 0.85) in EXACT
    integer arithmetic — centrality over the near-dup similarity graph
    (which documents sit at the center of big duplicate families), run
    as fixed lazy rounds with one closing checkpoint.

    Every rank lives in integer ``scale`` units; with damping 0.85 =
    17/20 both the per-edge contribution (``u div deg``) and the update
    (``base + (17 * s) div 20``) are pure int64 floor divisions on
    provably non-negative operands — Spark's truncating ``div`` and
    DuckDB's flooring ``//`` agree, so the oracle replays every
    iteration bit-for-bit with no float anywhere.  ``iters`` is fixed
    (bounded plan depth, no convergence collect).

    Scale shape per iteration: one equi-join of the edge list against
    the rank table plus one short-key sum — the textbook distributed
    PageRank step.  The node count is fetched once as a driver scalar
    (control flow, the sppmi_embed/kmeans-centroid precedent) and the
    two per-round constants ``S div n`` / ``(3S) div (20n)`` are inlined
    as exact int64 literals — Python ``//`` on non-negative ints equals
    Spark's ``div`` — so no broadcast join rides any round.
    Returns (id, degree, pagerank) with pagerank = units / scale.
    """
    S = int(scale)
    # the rank tables are |V| short rows; the FINAL checkpoint below is
    # the eager action that materializes every round inside the
    # stationary scope (AQE reads its conf at action time)
    with session.stationary(_undirected(edges, a_col, b_col), "x") as und:
        deg = und.groupBy("x").agg(F.count("*").alias("deg")).localCheckpoint(
            eager=True
        )
        n = deg.count()
        # iters is fixed and the state chain is LINEAR (each round's
        # ranks feeds exactly the next round; und/deg are materialized
        # leaves), so the rounds stay LAZY and ONE eager checkpoint at
        # the end executes all of them in a single multi-stage job; a
        # per-round eager checkpoint plus 1-row broadcast cost ~4
        # scheduler round-trips per iteration
        u0 = S // n if n else 0
        base = (3 * S) // (20 * n) if n else 0
        ranks = deg.select("x", "deg", F.lit(u0).cast("bigint").alias("u"))
        for _ in range(iters):
            contrib = _rank_contrib(und, ranks)
            ranks = deg.join(contrib, deg.x == contrib.y).select(
                "x",
                "deg",
                (F.lit(base).cast("bigint") + F.expr("(17 * s) div 20")).alias(
                    "u"
                ),
            )
        ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("x").alias("id"),
        F.col("deg").cast("bigint").alias("degree"),
        (F.col("u").cast("double") / F.lit(float(S))).alias("pagerank"),
    )


def pagerank_oracle_sql(
    iters: int = 5,
    scale: int = 10**12,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of :func:`pagerank` over the verified MinHash pair
    graph: the vp CTE chain, then ``iters`` unrolled integer-exact
    update rounds (``//`` == Spark ``div`` on the non-negative units)."""
    S = int(scale)
    ctes = [
        _vpairs_ctes(k, num_hashes, bands, threshold),
        """, und AS MATERIALIZED (
          SELECT a AS x, b AS y FROM vp
          UNION ALL SELECT b AS x, a AS y FROM vp
        ), deg AS MATERIALIZED (
          SELECT x, count(*) AS deg FROM und GROUP BY x
        ), nn AS MATERIALIZED (SELECT count(*) AS n FROM deg)""",
        f""", r0 AS (
          SELECT x, deg, {S} // nn.n AS u FROM deg CROSS JOIN nn
        )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f""", c{i} AS (
          SELECT und.y, sum(r{i-1}.u // r{i-1}.deg) AS s
          FROM und JOIN r{i-1} ON und.x = r{i-1}.x GROUP BY und.y
        ), r{i} AS MATERIALIZED (
          SELECT deg.x, deg.deg,
                 (3 * {S}) // (20 * nn.n) + (17 * c{i}.s) // 20 AS u
          FROM deg JOIN c{i} ON deg.x = c{i}.y CROSS JOIN nn
        )"""
        )
    return (
        "".join(ctes)
        + f"""
        SELECT x AS doc_id, CAST(deg AS BIGINT) AS degree,
               CAST(u AS DOUBLE) / {float(S)!r} AS pagerank
        FROM r{iters}"""
    )


def hits(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed
    bipartite edge list in EXACT integer arithmetic, run as a fixed
    number of eager rounds.  On a user→item interaction graph the hub
    score finds broad consumers and the authority score finds
    widely-consumed items; on a citation/link graph it separates
    directories from destinations.

    Scores live in integer ``scale`` units.  Each round: authority =
    sum of incoming hub units (one edge equi-join + dst-keyed sum),
    max-normalized back to ~``scale`` (the integer two-step
    ``s div greatest(max div scale, 1)`` keeps the top node in
    [scale, 2*scale) rather than exactly at scale — ordering is
    unaffected and every step stays replayable); then hub = sum of
    outgoing authority units, max-normalized the same way.  Normalization divides by
    ``greatest(max_units div scale, 1)`` — two int64 floor divisions
    on non-negative operands (Spark ``div`` == DuckDB ``//`` there),
    never a float, never a product that can overflow: summed units
    stay below ``max_degree * scale``, so int64 holds for degrees up
    to ~9e12 at the default scale.  ``iters`` is fixed (bounded plan
    depth, no convergence collect); the classic L2 normalization is
    deliberately traded for max-normalization because sqrt is not
    integer-replayable — relative ordering per side is unaffected.

    Scale shape per round: two equi-joins of the (pre-partitioned,
    persisted) edge list against score tables of |V| short rows,
    two short-key sums — the PageRank discipline: the edge list is
    stored TWICE, hash-partitioned on src and on dst, so the per-round
    joins move only the |V|-row score tables (two |E| shuffles total
    across the whole run, not two per round).  The one-row max rides
    broadcast cross joins.

    Returns (node_type 'hub'|'auth', id, score) with score =
    units / scale.
    """
    if iters < 1:
        raise ValueError(
            f"hits needs iters >= 1 (got {iters}): the authority scores "
            "exist only after the first round"
        )
    S = int(scale)

    def _half_step(e, scores, src, dst):
        # sum the ``src``-side units into ``dst`` over the edge list
        # ``e`` (hash-partitioned on ``src``), max-normalized
        raw = (
            e.join(scores.withColumnRenamed("id", src), on=src)
            .groupBy(dst)
            .agg(F.sum("u").cast("bigint").alias("s"))
        )
        mx = raw.agg(F.max("s").alias("_m"))
        return (
            raw.crossJoin(F.broadcast(mx))
            .select(
                F.col(dst).alias("id"),
                F.expr(f"s div greatest(_m div {S}, 1)")
                .cast("bigint")
                .alias("u"),
            )
            .localCheckpoint(eager=True)
        )

    # the edge list stored hash-partitioned on each half-step's join key
    # (src for the auth step, dst for the hub step)
    with (
        session.stationary(edges.select(src_col, dst_col), src_col) as e_src,
        session.stationary(e_src, dst_col) as e_dst,
    ):
        hubs = e_src.select(F.col(src_col).alias("id")).distinct().select(
            "id", F.lit(S).cast("bigint").alias("u")
        ).localCheckpoint(eager=True)
        for _ in range(iters):
            auths = _half_step(e_src, hubs, src_col, dst_col)
            hubs = _half_step(e_dst, auths, dst_col, src_col)
    scored = (
        F.col("id").cast("bigint").alias("id"),
        (F.col("u").cast("double") / F.lit(float(S))).alias("score"),
    )
    return hubs.select(F.lit("hub").alias("node_type"), *scored).unionByName(
        auths.select(F.lit("auth").alias("node_type"), *scored)
    )


def hits_oracle_sql(
    edges_cte: str,
    iters: int = 3,
    scale: int = 10**6,
) -> str:
    """DuckDB replay of :func:`hits`: ``edges_cte`` must define a CTE
    body selecting (src, dst); the ``iters`` rounds unroll with the
    identical integer floor divisions (``//`` == Spark ``div`` on the
    non-negative units)."""
    S = int(scale)
    ctes = [
        f"""WITH e AS MATERIALIZED ({edges_cte}),
        h0 AS (SELECT DISTINCT src AS id, CAST({S} AS BIGINT) AS u
               FROM e)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f""", ar{i} AS (
          SELECT e.dst, CAST(sum(h{i-1}.u) AS BIGINT) AS s
          FROM e JOIN h{i-1} ON e.src = h{i-1}.id GROUP BY e.dst
        ), am{i} AS (SELECT max(s) AS m FROM ar{i}),
        a{i} AS MATERIALIZED (
          SELECT ar{i}.dst AS id,
                 CAST(s // greatest(m // {S}, 1) AS BIGINT) AS u
          FROM ar{i} CROSS JOIN am{i}
        ), hr{i} AS (
          SELECT e.src, CAST(sum(a{i}.u) AS BIGINT) AS s
          FROM e JOIN a{i} ON e.dst = a{i}.id GROUP BY e.src
        ), hm{i} AS (SELECT max(s) AS m FROM hr{i}),
        h{i} AS MATERIALIZED (
          SELECT hr{i}.src AS id,
                 CAST(s // greatest(m // {S}, 1) AS BIGINT) AS u
          FROM hr{i} CROSS JOIN hm{i}
        )"""
        )
    return (
        "".join(ctes)
        + f"""
        SELECT 'hub' AS node_type, CAST(id AS BIGINT) AS id,
               CAST(u AS DOUBLE) / {float(S)!r} AS score
        FROM h{iters}
        UNION ALL
        SELECT 'auth' AS node_type, CAST(id AS BIGINT) AS id,
               CAST(u AS DOUBLE) / {float(S)!r} AS score
        FROM a{iters}"""
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    a_col: str = "a",
    b_col: str = "b",
    seed_col: str = "id",
) -> DataFrame:
    """Multi-source breadth-first search over an undirected pair graph:
    the exact hop distance from the nearest seed, up to ``max_hops``,
    in eager rounds that exit on an empty frontier.  On the
    near-dup graph it measures contamination BLAST RADIUS (how far a
    flagged document's duplication neighborhood extends); on an
    interaction graph it is the collaborative-filtering neighborhood
    expansion.

    All-integer: distances are hop counts, frontier membership is set
    algebra (anti-join), nothing floats.  ``max_hops`` is fixed —
    bounded plan depth, no convergence collect — and the loop breaks
    early via a count() on the (already materialized) frontier when it
    empties, so no empty rounds are planned.

    Scale shape per hop: one equi-join of the (pre-partitioned,
    persisted) undirected edge list against the frontier (only
    frontier-adjacent edges flow), one distinct, one anti-join against
    the visited set — the textbook distributed frontier expansion.
    The visited set is re-checkpointed per hop so lineage stays flat.

    Returns (id, dist) for every node within ``max_hops`` of a seed
    (seeds at dist 0); unreached nodes are absent.
    """
    with session.stationary(_undirected(edges, a_col, b_col), "x") as und:
        dist = (
            seeds.select(F.col(seed_col).alias("id"))
            .distinct()
            .select("id", F.lit(0).cast("bigint").alias("dist"))
            .localCheckpoint(eager=True)
        )
        frontier = dist
        for hop in range(1, max_hops + 1):
            if frontier.count() == 0:
                break
            nxt = (
                und.join(
                    frontier.withColumnRenamed("id", "x").select("x"),
                    on="x",
                )
                .select(F.col("y").alias("id"))
                .distinct()
                .join(dist.select("id"), on="id", how="left_anti")
                .select("id", F.lit(hop).cast("bigint").alias("dist"))
            )
            dist = dist.unionByName(nxt).localCheckpoint(eager=True)
            frontier = dist.filter(F.col("dist") == hop)
    return dist


def bfs_distances_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    max_hops: int = 4,
) -> str:
    """DuckDB replay of :func:`bfs_distances`: ``edges_cte`` selects
    (a, b), ``seeds_cte`` selects (id); hops unroll as materialized
    frontier CTEs (the engine's early break on an empty frontier is
    value-neutral — an empty frontier contributes no rows either way).
    """
    ctes = [
        f"""WITH e0 AS ({edges_cte}),
        und AS MATERIALIZED (
          SELECT a AS x, b AS y FROM e0
          UNION ALL SELECT b AS x, a AS y FROM e0
        ),
        d0 AS MATERIALIZED (
          SELECT DISTINCT id, CAST(0 AS BIGINT) AS dist
          FROM ({seeds_cte})
        )"""
    ]
    for h in range(1, max_hops + 1):
        ctes.append(
            f""", f{h} AS (
          SELECT DISTINCT und.y AS id FROM und
          JOIN d{h-1} ON und.x = d{h-1}.id AND d{h-1}.dist = {h - 1}
        ), d{h} AS MATERIALIZED (
          SELECT id, dist FROM d{h-1}
          UNION ALL
          SELECT f{h}.id, CAST({h} AS BIGINT) AS dist FROM f{h}
          WHERE f{h}.id NOT IN (SELECT id FROM d{h-1})
        )"""
        )
    return "".join(ctes) + f"""
        SELECT id, dist FROM d{max_hops}"""


def _relax(
    e: DataFrame, source: int, col: str, candidates, max_rounds: int
) -> tuple[DataFrame, bool]:
    """Frontier relaxation from ``source`` over the stationary edge list
    ``e`` (u, v, ...), keeping per node the minimum ``col`` (int64).

    Each round joins the frontier (node, col) to ``e`` on u;
    ``candidates`` maps those joined rows to candidate (node, col) rows.
    One aggregation computes BOTH the merged table and the improvement
    test: existing rows carry ``_old`` = their value and candidates
    null, so per node min(col) is the new value and min(_old) the
    previous one (null for first-seen nodes).  One eager checkpoint per
    round materializes it; the table and the next frontier (the nodes
    that improved) are in-memory filters of it.  The loop stops when a
    round improves nothing.

    Returns (table, converged): converged is False when ``max_rounds``
    ran out with a non-empty frontier.
    """
    table = e.sparkSession.createDataFrame(
        [(int(source), 0)], f"node bigint, {col} bigint"
    ).localCheckpoint(eager=True)
    frontier = table
    for _ in range(max_rounds):
        cand = candidates(
            e.join(frontier.withColumnRenamed("node", "u"), on="u")
        )
        merged = (
            table.select("node", col, F.col(col).alias("_old"))
            .unionByName(
                cand.select(
                    "node", col, F.lit(None).cast("bigint").alias("_old")
                )
            )
            .groupBy("node")
            .agg(F.min(col).alias(col), F.min("_old").alias("_old"))
            .localCheckpoint(eager=True)
        )
        table = merged.select("node", col)
        frontier = merged.filter(
            F.col("_old").isNull() | (F.col(col) < F.col("_old"))
        ).select("node", col)
        if frontier.count() == 0:
            return table, True
    return table, False


def sssp_bounded(
    edges: DataFrame,
    source: int,
    budget: int = 64,
    u_col: str = "u",
    v_col: str = "v",
    w_col: str = "w",
) -> DataFrame:
    """Budget-bounded single-source shortest paths over a WEIGHTED
    directed graph — distributed Bellman-Ford with frontier-only
    relaxation (:func:`_relax`) in eager rounds that exit on an empty
    frontier, the weighted upgrade of :func:`bfs_distances`: per round,
    only nodes whose tentative distance improved join the (persisted,
    pre-partitioned) edge list, candidate distances above ``budget``
    are pruned (the delta-stepping-style horizon that keeps both the
    state and the round count bounded: with integer weights >= 1 the
    loop provably terminates within ``budget`` rounds), and a min
    re-aggregation merges candidates into the distance table.

    All-integer: weights and distances are exact int64, so the result
    is bit-equal under any partitioning and any relaxation order.
    The per-round early-exit count moves one scalar; the edge list is
    persisted once and re-read every round.

    Returns (node, dist) for every node reachable within total weight
    ``budget`` (source at 0); unreachable nodes are absent.

    Precondition (ENFORCED): all weights must be integers >= 1.  The
    ``budget`` doubles as the hop bound only under that assumption —
    with w <= 0 edges the engine would hop-truncate at ``budget``
    rounds while the oracle's weight-bounded recursion keeps walking,
    a silent divergence.  A bounded scalar ``min(w)`` check rejects
    such inputs up front.
    """
    e = edges.select(
        F.col(u_col).alias("u"),
        F.col(v_col).alias("v"),
        F.col(w_col).cast("bigint").alias("w"),
    )
    with session.stationary(e, "u") as e:
        min_w = e.agg(F.min("w").alias("m")).collect()[0]["m"]
        if min_w is not None and min_w < 1:
            raise ValueError(
                "sssp_bounded requires integer weights >= 1 (budget "
                f"doubles as the hop bound); got min weight {min_w}"
            )
        dist, _ = _relax(
            e,
            source,
            "dist",
            lambda j: j.select(
                F.col("v").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            ).filter(F.col("dist") <= F.lit(int(budget))),
            int(budget),
        )
        return dist


def sssp_bounded_oracle_sql(
    edges_cte: str, source: int, budget: int = 64
) -> str:
    """DuckDB replay of :func:`sssp_bounded` via a native recursive
    walk: ``edges_cte`` selects (u, v, w).  The recursive UNION
    (distinct) enumerates every distinct (node, dist) state within the
    budget — bounded by |V| * budget rows since distances are
    integers — and the final min-aggregation extracts the shortest;
    relaxation order cannot matter because the state space, not a
    schedule, is what recursion explores."""
    return f"""
        WITH RECURSIVE e AS MATERIALIZED ({edges_cte}),
        walk AS (
          SELECT CAST({int(source)} AS BIGINT) AS node,
                 CAST(0 AS BIGINT) AS dist
          UNION
          SELECT e.v, walk.dist + e.w
          FROM walk JOIN e ON e.u = walk.node
          WHERE walk.dist + e.w <= {int(budget)}
        )
        SELECT node, CAST(min(dist) AS BIGINT) AS dist
        FROM walk GROUP BY node
    """


def _sigma_levels(und: DataFrame, source: int, max_hops: int) -> DataFrame:
    """Brandes' forward pass over the stationary undirected edge list
    ``und`` (x, y): the lazy union of (id, dist, sigma) levels 0 ..
    ``max_hops`` from ``source``, sigma as DECIMAL(38,0).

    The levels run LAZY: each per-level checkpoint is eager=False (still
    a persist, so within the caller's one closing job a level computes
    once and its anti-join/union consumers read the stored blocks), and
    ALL ``max_hops`` levels are built unconditionally: past the graph's
    reach a frontier is empty, every later level joins/aggregates empty
    frames, and the union is row-identical to an early-exited one, so
    no per-level count() or eager materialization is needed.  The
    caller's closing action must run BEFORE the edge cache releases,
    or the returned plan would recompute ``und`` per level.
    """
    dec = "decimal(38,0)"
    done = und.sparkSession.createDataFrame(
        [(int(source), 0, 1)], "id bigint, dist int, sigma bigint"
    ).select(
        "id", "dist", F.col("sigma").cast(dec).alias("sigma")
    ).localCheckpoint(eager=True)
    frontier = done
    for hop in range(1, max_hops + 1):
        nxt = (
            und.join(frontier.select(F.col("id").alias("x"), "sigma"), on="x")
            .groupBy(F.col("y").alias("id"))
            .agg(F.sum("sigma").cast(dec).alias("sigma"))
            .join(done.select("id"), on="id", how="left_anti")
            .select("id", F.lit(hop).cast("int").alias("dist"), "sigma")
            .localCheckpoint(eager=False)
        )
        done = done.unionByName(nxt)
        frontier = nxt
    return done


def sp_counting(
    edges: DataFrame,
    source: int,
    max_hops: int = 4,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Shortest-path COUNTING from a single source over an undirected
    pair graph — the forward phase of Brandes' betweenness algorithm
    (Brandes 2001): level-synchronous BFS where each newly-reached
    node's sigma is the SUM of the sigmas of its predecessors on the
    previous level (sigma(v) = number of distinct shortest source->v
    paths), up to ``max_hops`` levels.

    Path counts explode combinatorially with depth, so sigma
    accumulates as DECIMAL(38,0) end to end (a hub-dense graph
    overflows int64 within a few levels, and Spark wraps where DuckDB
    promotes — the term_burstiness overflow discipline).  Everything
    else is the :func:`bfs_distances` frontier shape: one equi-join
    of the persisted undirected edge list per level, one
    sum-aggregation, one anti-join against the visited set.  The
    levels (:func:`_sigma_levels`) are fixed lazy rounds; one closing
    eager checkpoint executes the whole BFS as a single multi-stage
    job.

    Returns (id, dist, sigma) for every node within ``max_hops``
    (source at dist 0 with sigma 1).
    """
    und = _undirected(edges, a_col, b_col).distinct()
    with session.stationary(und, "x") as und:
        return _sigma_levels(und, source, max_hops).localCheckpoint(eager=True)


def sp_counting_oracle_sql(
    edges_cte: str, source: int, max_hops: int = 4
) -> str:
    """DuckDB replay of :func:`sp_counting`: levels unroll as
    materialized CTEs (the bfs_distances oracle shape) with HUGEINT
    sigma sums cast to DECIMAL(38,0) to match the engine schema."""
    ctes = [
        f"""WITH e0 AS ({edges_cte}),
        und AS MATERIALIZED (
          SELECT DISTINCT x, y FROM (
            SELECT a AS x, b AS y FROM e0
            UNION ALL SELECT b AS x, a AS y FROM e0
          )
        ),
        d0 AS MATERIALIZED (
          SELECT CAST({int(source)} AS BIGINT) AS id,
                 CAST(0 AS INT) AS dist,
                 CAST(1 AS DECIMAL(38,0)) AS sigma
        )"""
    ]
    for h in range(1, max_hops + 1):
        ctes.append(
            f""", f{h} AS MATERIALIZED (
          SELECT und.y AS id,
                 CAST(sum(CAST(d{h-1}.sigma AS HUGEINT))
                      AS DECIMAL(38,0)) AS sigma
          FROM und JOIN d{h-1}
            ON und.x = d{h-1}.id AND d{h-1}.dist = {h - 1}
          WHERE und.y NOT IN (SELECT id FROM d{h-1})
          GROUP BY und.y
        ), d{h} AS MATERIALIZED (
          SELECT id, dist, sigma FROM d{h-1}
          UNION ALL
          SELECT id, CAST({h} AS INT) AS dist, sigma FROM f{h}
        )"""
        )
    return "".join(ctes) + f"""
        SELECT id, dist, sigma FROM d{max_hops}"""


def betweenness_contrib(
    edges: DataFrame,
    source: int,
    max_hops: int = 4,
    a_col: str = "a",
    b_col: str = "b",
    unit: int = 1_000_000,
) -> DataFrame:
    """Single-source betweenness DEPENDENCY accumulation — the
    backward phase of Brandes' algorithm (Brandes 2001) completing
    :func:`sp_counting`'s forward phase: over the shortest-path DAG,
    delta(v) = sum over successors w (dist(w) = dist(v) + 1) of
    sigma(v)/sigma(w) * (1 + delta(w)), swept level-synchronously
    from the deepest reached level (delta = 0) back to the source.
    Summing delta(v) over all sources yields betweenness centrality;
    this is one source's contribution.

    Exactness (the house quantize-to-integer style): delta is carried
    in integer micro-units (``unit`` = 1e6 per 1.0).  Each edge
    contribution round(sigma_v/sigma_w * (unit + delta_units(w))) is
    a product of IEEE doubles both engines compute bit-identically,
    and the per-node SUM is then integer — order- and
    partition-invariant by construction (float sums would not be).
    Sums run as DECIMAL(38,0) (DuckDB HUGEINT) since hub-dense DAGs
    can exceed int64.  Exact while delta_units fits a double's 2^53
    integer range, i.e. delta < ~9e9 — far above any realistic
    per-source dependency at 4 hops.

    Plan shape: the forward loop is :func:`sp_counting`'s (one
    equi-join + sum-agg + anti-join per level, lazy per-round
    checkpoints executed as one job at the lmax aggregate); the DAG
    successor list is materialized ONCE (und ⋈ levels ⋈ levels,
    repartitioned on v) and each backward round is one filtered
    equi-join + integer sum over it, the rounds lazy with one closing
    checkpoint.  The only driver-side value is the bounded max-level
    scalar.

    Returns (id, dist, delta_units) for every reached node.
    """
    dec = "decimal(38,0)"
    und = _undirected(edges, a_col, b_col).distinct()
    with session.stationary(und, "x") as und:
        # the lazy forward levels execute as ONE job at the lmax
        # aggregate; each level's lazy checkpoint persists it on first
        # compute, so the anti-joins and the dag build read stored
        # blocks, never recompute
        done = _sigma_levels(und, source, max_hops)
        lmax = done.agg(F.max("dist").alias("m")).collect()[0]["m"]
        dag = (
            und.join(
                done.select(
                    F.col("id").alias("x"),
                    F.col("dist").alias("dist_v"),
                    F.col("sigma").alias("sigma_v"),
                ),
                on="x",
            )
            .join(
                done.select(
                    F.col("id").alias("y"),
                    F.col("dist").alias("dist_w"),
                    F.col("sigma").alias("sigma_w"),
                ),
                on="y",
            )
            .filter(F.col("dist_w") == F.col("dist_v") + 1)
            .select(
                F.col("x").alias("v"),
                F.col("y").alias("w"),
                "dist_v",
                "sigma_v",
                "sigma_w",
            )
        )
        # hashed on v: each backward round (a broadcastable per-level
        # join on w, then groupBy(v)) aggregates in place with no
        # exchange of the DAG
        with session.stationary(dag, "v") as dag:
            delta = (
                done.filter(F.col("dist") == lmax)
                .select(
                    "id", "dist", F.lit(0).cast(dec).alias("delta_units")
                )
                .localCheckpoint(eager=False)
            )
            level_delta = delta
            # the backward sweep is a FIXED linear chain once lmax is known
            # (level h depends only on level h+1), so the rounds stay lazy
            # (each level's checkpoint persists on first compute, serving
            # both its union arm and the next round) and the single eager
            # checkpoint after the loop executes the whole sweep in one
            # job — it must materialize before und/dag unpersist or the
            # returned plan would recompute them per level
            for h in range(int(lmax) - 1, -1, -1):
                contrib = (
                    dag.filter(F.col("dist_v") == h)
                    .join(
                        level_delta.select(
                            F.col("id").alias("w"),
                            F.col("delta_units").alias("dw"),
                        ),
                        on="w",
                    )
                    .select(
                        "v",
                        F.round(
                            (
                                F.col("sigma_v").cast("double")
                                / F.col("sigma_w").cast("double")
                            )
                            * (
                                F.lit(float(unit))
                                + F.col("dw").cast("double")
                            )
                        ).cast(dec).alias("cu"),
                    )
                    .groupBy("v")
                    .agg(F.sum("cu").cast(dec).alias("delta_units"))
                )
                lvl = (
                    done.filter(F.col("dist") == h)
                    .select("id", "dist")
                    .join(
                        contrib.withColumnRenamed("v", "id"),
                        on="id",
                        how="left",
                    )
                    .select(
                        "id",
                        "dist",
                        F.coalesce(
                            F.col("delta_units"), F.lit(0).cast(dec)
                        ).alias("delta_units"),
                    )
                    .localCheckpoint(eager=False)
                )
                delta = delta.unionByName(lvl)
                level_delta = lvl
            delta = delta.localCheckpoint(eager=True)
        return delta


def betweenness_contrib_oracle_sql(
    edges_cte: str,
    source: int,
    max_hops: int = 4,
    unit: int = 1_000_000,
) -> str:
    """DuckDB replay of :func:`betweenness_contrib`: the
    :func:`sp_counting_oracle_sql` forward levels, then one
    materialized backward CTE per level (lv{h} from lv{h+1}) with the
    identical round(sigma_v/sigma_w * (unit + delta_units)) integer
    quantization summed as HUGEINT.  Unrolled levels past the deepest
    reached one are empty, so the static SQL matches the engine's
    data-dependent loop bound by construction."""
    fwd = [
        f"""WITH e0 AS ({edges_cte}),
        und AS MATERIALIZED (
          SELECT DISTINCT x, y FROM (
            SELECT a AS x, b AS y FROM e0
            UNION ALL SELECT b AS x, a AS y FROM e0
          )
        ),
        d0 AS MATERIALIZED (
          SELECT CAST({int(source)} AS BIGINT) AS id,
                 CAST(0 AS INT) AS dist,
                 CAST(1 AS DECIMAL(38,0)) AS sigma
        )"""
    ]
    for h in range(1, max_hops + 1):
        fwd.append(
            f""", f{h} AS MATERIALIZED (
          SELECT und.y AS id,
                 CAST(sum(CAST(d{h-1}.sigma AS HUGEINT))
                      AS DECIMAL(38,0)) AS sigma
          FROM und JOIN d{h-1}
            ON und.x = d{h-1}.id AND d{h-1}.dist = {h - 1}
          WHERE und.y NOT IN (SELECT id FROM d{h-1})
          GROUP BY und.y
        ), d{h} AS MATERIALIZED (
          SELECT id, dist, sigma FROM d{h-1}
          UNION ALL
          SELECT id, CAST({h} AS INT) AS dist, sigma FROM f{h}
        )"""
        )
    n = max_hops
    bwd = [
        f""", dag AS MATERIALIZED (
          SELECT und.x AS v, und.y AS w,
                 dv.dist AS dist_v, dv.sigma AS sigma_v,
                 dw.sigma AS sigma_w
          FROM und
          JOIN d{n} dv ON und.x = dv.id
          JOIN d{n} dw ON und.y = dw.id
          WHERE dw.dist = dv.dist + 1
        ), lv{n} AS MATERIALIZED (
          SELECT id, dist, CAST(0 AS DECIMAL(38,0)) AS delta_units
          FROM d{n} WHERE dist = {n}
        )"""
    ]
    for h in range(n - 1, -1, -1):
        bwd.append(
            f""", c{h} AS MATERIALIZED (
          SELECT dag.v AS id,
                 CAST(sum(CAST(round(
                   (CAST(dag.sigma_v AS DOUBLE)
                      / CAST(dag.sigma_w AS DOUBLE))
                   * (CAST({int(unit)} AS DOUBLE)
                        + CAST(lv{h+1}.delta_units AS DOUBLE))
                 ) AS HUGEINT)) AS DECIMAL(38,0)) AS delta_units
          FROM dag JOIN lv{h+1} ON dag.w = lv{h+1}.id
          WHERE dag.dist_v = {h}
          GROUP BY dag.v
        ), lv{h} AS MATERIALIZED (
          SELECT d.id, d.dist,
                 coalesce(c{h}.delta_units,
                          CAST(0 AS DECIMAL(38,0))) AS delta_units
          FROM (SELECT id, dist FROM d{n} WHERE dist = {h}) d
          LEFT JOIN c{h} ON d.id = c{h}.id
        )"""
        )
    union = "\n          UNION ALL\n          ".join(
        f"SELECT id, dist, delta_units FROM lv{h}"
        for h in range(n + 1)
    )
    return "".join(fwd) + "".join(bwd) + f"""
        {union}"""


def random_walks(
    edges: DataFrame,
    length: int = 4,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Deterministic hash-seeded random walks over an undirected pair
    graph — the DeepWalk/node2vec corpus-generation step (Perozzi et
    al. 2014) in the same replayable-pseudo-randomness style as the
    registered hash_sample: one walk of ``length`` steps per node, and
    at each step the neighbor INDEX is a mixed integer hash of (seed,
    current node, step) modulo the current node's degree.  All
    arithmetic is small-multiplier int64 (operands bounded ~2.5e14, no
    overflow under ANSI even with 1e10 node ids), so the walks are
    bit-identical on any engine and any partitioning — the property an
    embedding-training corpus needs for reproducibility.

    Scale shape: the ranked adjacency (neighbor rank via one per-node
    window, degree via one aggregate) is persisted once and each
    step is two equi-joins (degree lookup to compute the index, then
    (node, rank) to fetch the neighbor) — no fan-out beyond the walk
    frontier, no collect, rounds = ``length`` by construction.

    Returns (seed, step, node): step 0 is the seed itself.
    """
    M = 2147483647
    und = _undirected(edges, a_col, b_col).distinct()
    w_adj = Window.partitionBy("x").orderBy("y")
    adj = und.select("x", "y", (F.row_number().over(w_adj) - 1).alias("rank"))
    # each step's neighbor join shuffles only the walk frontier, never
    # the adjacency; every step materializes eagerly below
    with session.stationary(adj, "x") as adj:
        degs = adj.groupBy("x").agg(
            F.count("*").cast("bigint").alias("deg")
        ).localCheckpoint(eager=True)
        walk = degs.select(
            F.col("x").alias("seed"), F.col("x").alias("node")
        )
        out = walk.select(
            "seed", F.lit(0).cast("int").alias("step"), "node"
        )
        for s in range(1, int(length) + 1):
            h = (
                (F.col("seed") % M) * F.lit(48271)
                + (F.col("node") % M) * F.lit(69621)
                + F.lit(s * 8191)
            )
            stepped = (
                walk.join(
                    degs.withColumnRenamed("x", "node"), on="node"
                )
                .select(
                    "seed",
                    F.col("node").alias("_cur"),
                    (h % F.col("deg")).alias("_idx"),
                )
                .join(
                    adj.select(
                        F.col("x").alias("_cur"),
                        F.col("rank").alias("_idx"),
                        F.col("y").alias("node"),
                    ),
                    on=["_cur", "_idx"],
                )
                .select("seed", "node")
                .localCheckpoint(eager=True)
            )
            out = out.unionByName(
                stepped.select(
                    "seed", F.lit(s).cast("int").alias("step"), "node"
                )
            )
            walk = stepped
        return out


def random_walks_oracle_sql(
    edges_cte: str, length: int = 4
) -> str:
    """DuckDB replay of :func:`random_walks`: the ranked adjacency,
    then one CTE per step with the identical mixed-hash index
    arithmetic (all positive int64, both engines' % agree)."""
    M = 2147483647
    parts = [
        f"""WITH e0 AS ({edges_cte}),
        und AS MATERIALIZED (
          SELECT DISTINCT x, y FROM (
            SELECT a AS x, b AS y FROM e0
            UNION ALL SELECT b AS x, a AS y FROM e0
          )
        ),
        adj AS MATERIALIZED (
          SELECT x, y,
                 CAST(row_number() OVER (PARTITION BY x ORDER BY y) - 1
                      AS BIGINT) AS rnk
          FROM und
        ),
        degs AS MATERIALIZED (
          SELECT x, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY x
        ),
        w0 AS (SELECT x AS seed, x AS node FROM degs)"""
    ]
    for s in range(1, int(length) + 1):
        parts.append(
            f""", w{s} AS MATERIALIZED (
          SELECT w.seed, adj.y AS node
          FROM w{s-1} w
          JOIN degs ON degs.x = w.node
          JOIN adj ON adj.x = w.node
           AND adj.rnk = ((w.seed % {M}) * 48271
                          + (w.node % {M}) * 69621
                          + {s * 8191}) % degs.deg
        )"""
        )
    union = "\n          UNION ALL\n          ".join(
        f"SELECT seed, CAST({s} AS INT) AS step, node FROM w{s}"
        for s in range(int(length) + 1)
    )
    return "".join(parts) + f"""
        {union}"""


def skipgram_cooc(
    edges: DataFrame,
    length: int = 4,
    window: int = 2,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Skip-gram co-occurrence counts + PMI over the DeepWalk walk
    corpus — the step that turns :func:`random_walks` output into
    embedding-training pairs (word2vec's implicit matrix is the
    shifted PMI of exactly these counts, Levy & Goldberg 2014): for
    every walk, every ordered (center, context) node pair within
    ``window`` steps co-occurs once; pmi(u, v) = ln(#(u,v)·T /
    (#(u,·)·#(·,v))) over the pair total T.

    Exactness: counts and marginals are exact int64; the PMI argument
    is (cnt·T)/(cu·cv) computed as one mirrored double chain (casts
    and one multiply/divide each side — IEEE-identical on both
    engines, no pre-multiply overflow); ln stays UNROUNDED output (the
    woe_encode precedent — never quantize a transcendental into an
    exact-integer gate column, r12 ADVICE).

    Scale shape: walks self-join per seed (each walk is ``length+1``
    rows, so the join fans out at most (L+1)·2w per walk); pair counts
    aggregate with partial combine on the (u, v) key; the two
    marginals re-aggregate FROM the pair counts (checkpointed once —
    never re-walk the corpus) and join back on u then v — node-key
    shuffles that AQE skew-handles for hub nodes.  The scalar total
    broadcasts.

    Returns (u, v, cnt, pmi) for ordered pairs, u != v allowed only
    via distinct walk positions.
    """
    walks = random_walks(edges, length=length, a_col=a_col, b_col=b_col)
    w1 = walks.select("seed", F.col("step").alias("_s1"), F.col("node").alias("u"))
    w2 = walks.select("seed", F.col("step").alias("_s2"), F.col("node").alias("v"))
    pairs = (
        w1.join(w2, on="seed")
        .filter(
            (F.col("_s2") - F.col("_s1") >= -window)
            & (F.col("_s2") - F.col("_s1") <= window)
            & (F.col("_s2") != F.col("_s1"))
        )
        .groupBy("u", "v")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        # three consumers: marginals u, v and the output join
        .localCheckpoint(eager=False)
    )
    cu = pairs.groupBy("u").agg(F.sum("cnt").cast("bigint").alias("_cu"))
    cv = pairs.groupBy("v").agg(F.sum("cnt").cast("bigint").alias("_cv"))
    tot = pairs.agg(F.sum("cnt").cast("bigint").alias("_T"))
    return (
        pairs.join(cu, on="u")
        .join(cv, on="v")
        .crossJoin(F.broadcast(tot))
        .select(
            "u",
            "v",
            "cnt",
            F.log(
                (F.col("cnt").cast("double") * F.col("_T").cast("double"))
                / (F.col("_cu").cast("double") * F.col("_cv").cast("double"))
            ).alias("pmi"),
        )
    )


def skipgram_cooc_oracle_sql(
    edges_cte: str, length: int = 4, window: int = 2
) -> str:
    """DuckDB replay of :func:`skipgram_cooc`: the random_walks replay
    as a subquery, the same windowed self-join, and the identical
    count/marginal/PMI double chain."""
    walks = random_walks_oracle_sql(edges_cte, length=length)
    return f"""
        WITH walks AS MATERIALIZED (
          {walks}
        ), pairs AS MATERIALIZED (
          SELECT w1.node AS u, w2.node AS v,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM walks w1 JOIN walks w2 ON w1.seed = w2.seed
          WHERE w2.step - w1.step BETWEEN -{window} AND {window}
            AND w2.step != w1.step
          GROUP BY w1.node, w2.node
        ), cu AS (
          SELECT u, CAST(sum(cnt) AS BIGINT) AS cu FROM pairs GROUP BY u
        ), cv AS (
          SELECT v, CAST(sum(cnt) AS BIGINT) AS cv FROM pairs GROUP BY v
        ), tot AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS T FROM pairs
        )
        SELECT pairs.u, pairs.v, pairs.cnt,
               ln((CAST(pairs.cnt AS DOUBLE) * CAST(tot.T AS DOUBLE))
                  / (CAST(cu.cu AS DOUBLE) * CAST(cv.cv AS DOUBLE)))
                 AS pmi
        FROM pairs JOIN cu USING (u) JOIN cv USING (v) CROSS JOIN tot"""


def sppmi_embed(
    edges: DataFrame,
    length: int = 4,
    window: int = 2,
    rounds: int = 6,
    unit: int = 10**6,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Dominant-eigenvector node embedding of the SPPMI matrix — the
    step that closes the walk→embedding loop: :func:`random_walks`
    makes the corpus, :func:`skipgram_cooc` its PMI matrix, and SGNS
    word2vec implicitly FACTORIZES the shifted positive PMI of exactly
    those counts (Levy & Goldberg 2014; shift ln(k)=0 here, i.e. the
    classic PPMI), so the leading eigenvector of that matrix is the
    1-d SGNS-equivalent embedding.  Power iteration in EXACT integer
    arithmetic (the pca_power_iteration discipline distributed): the
    matrix quantizes to ``unit`` SPPMI units (round-half-away — the
    one quantized-transcendental site, guard-band audited), the
    iterate is an integer vector renormalized by sign·(|x|·unit div
    max|x|) each round, and every product sums as DECIMAL(38,0) —
    bit-equal on any engine and any partitioning at ANY round count,
    converged or not.

    Scale shape: unlike pca_power_iteration's 8×8 collect, the matrix
    here is node×node and stays DISTRIBUTED — each round is one
    equi-join of the (u, v, su) matrix against the N-row iterate on
    the v key plus one map-side-combined sum by u (the
    pagerank/frontier shape), with the round state eagerly
    checkpointed because it feeds two consumers (the max-abs scalar
    and the renormalization — the twice-consumed-state discipline).
    The max-abs renormalizer is one exact decimal scalar per round,
    fetched as control flow and inlined as a typed literal (the
    kmeans-centroid precedent) so the renormalized state is a lazy
    projection of the checkpointed round state — two jobs per round,
    not three.  Rows with quantized SPPMI 0 drop in BOTH engines
    (they contribute nothing and sparsify hub rows).

    Returns (node, vu) — the embedding in ``unit`` units.
    """
    dec = "decimal(38,0)"
    coo = skipgram_cooc(
        edges, length=length, window=window, a_col=a_col, b_col=b_col
    )
    m = coo.select(
        "u",
        "v",
        F.round(F.greatest(F.col("pmi"), F.lit(0.0)) * F.lit(float(unit)))
        .cast("bigint")
        .alias("su"),
    ).filter(F.col("su") > 0)
    # only the N-row iterate shuffles per round
    with session.stationary(m, "v") as m:
        state = (
            m.select(F.col("u").alias("node"))
            .distinct()
            .select("node", F.lit(unit).cast("bigint").alias("vu"))
            .localCheckpoint(eager=True)
        )
        for _ in range(rounds):
            raw = (
                m.join(
                    state.select(
                        F.col("node").alias("v"), "vu"
                    ),
                    on="v",
                )
                .groupBy(F.col("u").alias("node"))
                .agg(
                    F.sum((F.col("su") * F.col("vu")).cast(dec)).alias(
                        "raw"
                    )
                )
                .localCheckpoint(eager=True)  # max + renorm consumers
            )
            # the max-abs renormalizer is ONE exact decimal scalar per
            # round — fetch it as control flow (the kmeans-centroid
            # precedent) instead of a broadcast crossJoin + a third
            # materialization job: with the literal inlined, the
            # renormalized state is a cheap projection of the
            # checkpointed `raw` and its single consumer (next round's
            # join / the final action) evaluates it in place.  The
            # literal is CAST from a decimal string, so the `div`
            # operand types — and therefore the integer-division
            # semantics — are identical to the column form.
            mxv = raw.agg(F.max(F.abs(F.col("raw"))).alias("mx")).first()["mx"]
            mx_sql = (
                f"CAST(NULL AS {dec})"
                if mxv is None
                else f"CAST('{int(mxv)}' AS {dec})"
            )
            state = raw.select(
                "node",
                F.expr(
                    f"CASE WHEN raw < 0 THEN "
                    f"-CAST(abs(raw) * {unit} div {mx_sql} AS BIGINT) "
                    f"ELSE CAST(abs(raw) * {unit} div {mx_sql} AS BIGINT) "
                    f"END"
                ).alias("vu"),
            )
        return state


def sppmi_embed_oracle_sql(
    edges_cte: str,
    length: int = 4,
    window: int = 2,
    rounds: int = 6,
    unit: int = 10**6,
) -> str:
    """DuckDB replay of :func:`sppmi_embed`: the skipgram_cooc replay
    as a materialized CTE, the identical quantize-and-filter, and the
    power iteration unrolled one materialized CTE pair per round with
    HUGEINT sums and the same sign·(|x|·unit // max) renormalization
    (`//` floors where Spark `div` truncates — operands are split by
    sign so both see non-negative quotients)."""
    coo = skipgram_cooc_oracle_sql(edges_cte, length=length, window=window)
    parts = [
        f"""WITH coo AS MATERIALIZED (
          {coo}
        ), m AS MATERIALIZED (
          SELECT u, v,
                 CAST(round(greatest(pmi, CAST(0.0 AS DOUBLE))
                            * {float(unit)}) AS BIGINT) AS su
          FROM coo
          WHERE CAST(round(greatest(pmi, CAST(0.0 AS DOUBLE))
                           * {float(unit)}) AS BIGINT) > 0
        ), s0 AS MATERIALIZED (
          SELECT DISTINCT u AS node, CAST({unit} AS BIGINT) AS vu
          FROM m
        )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", raw{r} AS MATERIALIZED (
          SELECT m.u AS node,
                 sum(CAST(m.su AS HUGEINT) * s{r-1}.vu) AS raw
          FROM m JOIN s{r-1} ON m.v = s{r-1}.node
          GROUP BY m.u
        ), s{r} AS MATERIALIZED (
          SELECT node,
                 CASE WHEN raw < 0 THEN
                   -CAST((abs(raw) * {unit})
                         // (SELECT max(abs(raw)) FROM raw{r})
                         AS BIGINT)
                 ELSE
                   CAST((abs(raw) * {unit})
                        // (SELECT max(abs(raw)) FROM raw{r})
                        AS BIGINT)
                 END AS vu
          FROM raw{r}
        )"""
        )
    return "".join(parts) + f"""
        SELECT node, vu FROM s{rounds}"""


def temporal_reach(
    edges: DataFrame,
    source: int,
    u_col: str = "u",
    v_col: str = "v",
    t_col: str = "t",
) -> DataFrame:
    """Time-respecting reachability (earliest-arrival paths) over a
    TEMPORAL graph: an edge (u, v, t) is usable only at time t >= the
    arrival time at u, so arrival(v) = min over usable edges of t —
    the contact-tracing / information-diffusion primitive (Holme &
    Saramäki 2012), run to convergence or raise: the
    :func:`sssp_bounded` frontier relaxation (:func:`_relax`) with the
    time-monotonicity constraint in the join predicate instead of an
    additive weight.

    The loop runs to FIXPOINT with no fixed round cap (the bom_rollup
    lesson): arrival times are drawn from the finite set of edge
    timestamps and only decrease, so the loop terminates.  The bound is
    the graph's HOP eccentricity from the source, not |distinct t| —
    equal-timestamp chains (a -t-> b -t-> c) propagate one hop per
    round, so a long chain at a single timestamp still costs one round
    per hop.  The early-exit scalar count ends the loop as soon as a
    round improves nothing; the 10,000-round safety bound guards
    against bugs, not data, and RAISES if ever exhausted with a
    non-empty frontier (a silent cap-exit would return a
    non-converged result diverging from the oracle's uncapped
    recursion).  All-integer, bit-equal under any relaxation order.
    Returns (node, arrival) for reachable nodes; the source reports
    arrival 0.
    """
    e = edges.select(
        F.col(u_col).alias("u"),
        F.col(v_col).alias("v"),
        F.col(t_col).cast("bigint").alias("t"),
    )
    safety_rounds = 10_000
    with session.stationary(e, "u") as e:
        arr, converged = _relax(
            e,
            source,
            "arrival",
            lambda j: j.filter(F.col("t") >= F.col("arrival")).select(
                F.col("v").alias("node"), F.col("t").alias("arrival")
            ),
            safety_rounds,
        )
        if not converged:
            raise RuntimeError(
                "temporal_reach: safety cap of "
                f"{safety_rounds} rounds exhausted with a non-empty "
                "frontier — result has NOT converged (hop eccentricity "
                "from the source exceeds the cap)"
            )
        return arr


def temporal_reach_oracle_sql(edges_cte: str, source: int) -> str:
    """DuckDB replay of :func:`temporal_reach` via a native recursive
    state walk: ``edges_cte`` selects (u, v, t).  The recursion
    enumerates every distinct (node, arrival) state reachable under
    time monotonicity — bounded by |E| + 1 states since every arrival
    is some edge's timestamp — and min-aggregation extracts the
    earliest; relaxation order cannot matter because recursion
    explores the state space, not a schedule."""
    return f"""
        WITH RECURSIVE e AS MATERIALIZED ({edges_cte}),
        walk AS (
          SELECT CAST({int(source)} AS BIGINT) AS node,
                 CAST(0 AS BIGINT) AS arrival
          UNION
          SELECT e.v, e.t
          FROM walk JOIN e ON e.u = walk.node AND e.t >= walk.arrival
        )
        SELECT node, CAST(min(arrival) AS BIGINT) AS arrival
        FROM walk GROUP BY node
    """


# ------------------------------------------------------------- bloom filter
def bloom_positions(fp_col, m: int, k: int):
    """The ``k`` Bloom bit positions of a fingerprint column: salted
    md5-prefix hashes reduced mod ``m`` (portable across engines via
    :func:`~openseize_spark.llm.sampling.salted_hash`)."""
    from openseize_spark.llm.sampling import salted_hash

    return F.array_distinct(
        F.array(
            *[salted_hash(fp_col, f"bloom{i}") % m for i in range(k)]
        )
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    m: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter decontamination screen: flag every document whose
    normalized-text fingerprint *may* be in the benchmark set — all
    ``k`` salted hash positions of its fingerprint are set in a Bloom
    filter built from the benchmark fingerprints.

    This is the sketch-based variant of :func:`decontaminate` for the
    case where even the benchmark's exact fingerprint set is too large
    to ship: the filter compresses any benchmark to ``m`` bits, at the
    price of a bounded false-positive rate (~``(1-e^{-kn/m})^k``).
    True membership is never missed — ``bloom_hit = false`` is a
    guarantee, so the screen safely prunes the corpus before an exact
    (expensive) confirmation join touches only the hits.

    The filter is materialized ONCE on the driver (the benchmark
    position aggregate is at most ``m`` distinct ints — bounded
    control flow, same category as k-means centroids) and embedded as
    an ``m``-bit bitset of 32-bit words.  The probe is then a pure
    codegen projection: ``k`` md5 hashes + ``k`` word lookups per row —
    NO corpus shuffle, NO join, row multiplicity and NULL columns
    untouched.  For filters too large to embed (``m`` >> 2^20), swap
    the literal for a broadcast join on the position table.

    Returns ``docs`` plus a ``bloom_hit`` boolean column.
    """
    from openseize_spark.llm.sampling import salted_hash

    fp = F.md5(normalize_text(F.col(text_col)))
    bench_pos = benchmark.select(
        F.explode(
            bloom_positions(F.md5(normalize_text(F.col(text_col))), m, k)
        ).alias("_bpos")
    ).distinct()
    words = [0] * ((m + 31) // 32)
    for r in bench_pos.collect():
        p = int(r._bpos)
        words[p >> 5] |= 1 << (p & 31)
    bits = F.array(*[F.lit(w) for w in words])
    pow2 = F.array(*[F.lit(1 << j) for j in range(32)])
    # bit test in portable integer arithmetic: (word div 2^(p%32)) % 2,
    # all operands non-negative so div == floor in both engines
    def _probe(i):
        p = salted_hash(fp, f"bloom{i}") % m
        word = F.element_at(bits, (p / 32).cast("int") + 1)
        bit = F.element_at(pow2, (p % 32).cast("int") + 1)
        return (word.cast("bigint") / bit).cast("bigint") % 2 == 1

    hit = _probe(0)
    for i in range(1, k):
        hit = hit & _probe(i)
    return docs.withColumn("bloom_hit", hit)


def bloom_decontaminate_oracle_sql(
    bench_pred: str,
    corpus_pred: str,
    m: int = 1 << 16,
    k: int = 3,
) -> str:
    """DuckDB replay of :func:`bloom_decontaminate` over ``documents``:
    the same salted md5-prefix positions, the same all-k membership
    rule (the engine's embedded bitset is semantically the bloom
    position set — ``p IN bloom`` per hash function)."""
    return f"""
        WITH {bloom_flags_ctes(bench_pred, corpus_pred, m=m, k=k)}
        SELECT source,
               count(*) AS n_docs,
               CAST(count(*) FILTER (WHERE bloom_hit) AS BIGINT) AS n_flagged
        FROM flags GROUP BY source"""


def bloom_flags_ctes(
    bench_pred: str,
    corpus_pred: str,
    m: int = 1 << 16,
    k: int = 3,
) -> str:
    """The CTE chain shared by the Bloom oracles: ends at ``flags``
    with one row per corpus document carrying a ``bloom_hit`` boolean
    (every one of the ``k`` positions is set in the benchmark
    filter)."""
    from openseize_spark.llm.sampling import salted_hash_sql

    norm = f"md5({normalize_text_sql()})"
    pos_exprs = ", ".join(
        f"({salted_hash_sql('fp', f'bloom{i}')} % {m}) AS p{i}" for i in range(k)
    )
    bench_union = " UNION ALL ".join(f"SELECT p{i} AS pos FROM bpos" for i in range(k))
    all_in = " AND ".join(
        f"p{i} IN (SELECT pos FROM bloom)" for i in range(k)
    )
    return f"""corpus_fp AS (
          SELECT doc_id, source, {norm} AS fp FROM documents WHERE {corpus_pred}
        ), fpos AS (
          SELECT doc_id, source, {pos_exprs} FROM corpus_fp
        ), bench_fp AS (
          SELECT {norm} AS fp FROM documents WHERE {bench_pred}
        ), bpos AS (
          SELECT {pos_exprs} FROM bench_fp
        ), bloom AS (
          SELECT DISTINCT pos FROM ({bench_union})
        ), flags AS (
          SELECT doc_id, source, ({all_in}) AS bloom_hit
          FROM fpos
        )"""


# ---------------------------------------------------- sorted neighborhood
def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 4,
    key_len: int = 12,
    bucket_len: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo): sort the
    corpus by a blocking key (here the first ``key_len`` chars of the
    normalized text) and emit every pair of rows within ``window`` of
    each other in that order — the third classic candidate-generation
    family beside hash banding (MinHash LSH) and bit sampling
    (SimHash), catching near-dups whose shared prefix survives even
    when shingle sets drift.

    Scale shape: the global sort rank is computed WITHOUT a global
    window — the first ``bucket_len`` key chars form an ordered bucket
    (a prefix function of the sort key, so bucket-major order IS key
    order), rows get a within-bucket row_number, and bucket offsets
    come from the bounded count table exactly like
    ``sampling.corpus_shuffle``.  Neighbor pairs then come from
    ``window - 1`` rank-offset EQUI-joins (rank+d = rank), never a
    range probe or self-cross.  Bucket skew mirrors key skew — the
    inherent SNM trade — and widening ``bucket_len`` shrinks buckets
    geometrically.

    Returns (a, b, dist, key_a, key_b) with ``a`` the earlier row in
    sort order and ``dist`` the rank distance (1 .. window-1).
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    from pyspark.sql import Window as W

    key = F.substring(normalize_text(F.col(text_col)), 1, key_len)
    rows = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), key.alias("_key"))
        .withColumn("_bkt", F.substring(F.col("_key"), 1, bucket_len))
    )
    wb = W.partitionBy("_bkt").orderBy(F.col("_key").asc(), F.col("_id").asc())
    ranked = rows.withColumn("_rn", F.row_number().over(wb))
    counts = ranked.groupBy("_bkt").agg(F.count("*").alias("_cnt"))
    spark = docs.sparkSession
    acc, data = 0, []
    for r in sorted(counts.collect(), key=lambda r: r["_bkt"]):
        data.append((r["_bkt"], acc))
        acc += r["_cnt"]
    offsets = spark.createDataFrame(data, "_bkt string, _off bigint")
    ranked = ranked.join(F.broadcast(offsets), on="_bkt").select(
        "_id", "_key", (F.col("_off") + F.col("_rn") - 1).alias("_r")
    )
    probe = ranked.select(
        F.col("_id").alias("a"),
        F.col("_key").alias("key_a"),
        F.explode(
            F.array(*[F.lit(d) for d in range(1, window)])
        ).alias("dist"),
        F.col("_r").alias("_r0"),
    ).withColumn("_r2", F.col("_r0") + F.col("dist"))
    build = ranked.select(
        F.col("_id").alias("b"), F.col("_key").alias("key_b"),
        F.col("_r").alias("_r2"),
    )
    return probe.join(build, on="_r2").select(
        "a", "b", F.col("dist").cast("bigint").alias("dist"), "key_a", "key_b"
    )


def sorted_neighborhood_oracle_sql(
    window: int = 4, key_len: int = 12
) -> str:
    """DuckDB replay over ``documents``: the bucketed two-level rank
    equals one global row_number because the bucket is a prefix of the
    sort key."""
    return f"""
        WITH ranked AS (
          SELECT doc_id AS id,
                 substr({normalize_text_sql()}, 1, {key_len}) AS key,
                 row_number() OVER (
                   ORDER BY substr({normalize_text_sql()}, 1, {key_len}), doc_id
                 ) - 1 AS r
          FROM documents WHERE text IS NOT NULL
        )
        SELECT p.id AS a, q.id AS b,
               CAST(q.r - p.r AS BIGINT) AS dist,
               p.key AS key_a, q.key AS key_b
        FROM ranked p JOIN ranked q
          ON q.r - p.r BETWEEN 1 AND {window - 1}"""


def cluster_cohesion_oracle_sql(
    k: int = 5, num_hashes: int = 64, bands: int = 8, threshold: float = 0.8
) -> str:
    """DuckDB replay of the cluster-cohesion query: the vp chain with
    intersection/union counts retained, labels via the recursive
    closure, pooled exact-integer cohesion per component."""
    sql = (
        _vpairs_ctes(k, num_hashes, bands, threshold)
        + f""", vpc AS (
          SELECT i.a, i.b, i.i AS ix, za.n + zb.n - i.i AS ux
          FROM inter i
          JOIN sz za ON za.doc_id = i.a
          JOIN sz zb ON zb.doc_id = i.b
          WHERE CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i) >= {threshold}
        ), und AS (
          SELECT a AS x, b AS y FROM vp UNION SELECT b AS x, a AS y FROM vp
        ), reach(id, comp) AS (
          SELECT x, x FROM und
          UNION
          SELECT u.x, r.comp FROM reach r JOIN und u ON u.y = r.id
        ), lbl AS (
          SELECT id, MIN(comp) AS component FROM reach GROUP BY id
        ), pair_m AS (
          SELECT l.component,
                 count(*) AS n_pairs,
                 CAST(sum(v.ix) AS BIGINT) AS sum_inter,
                 CAST(sum(v.ux) AS BIGINT) AS sum_union
          FROM vpc v JOIN lbl l ON l.id = v.a
          GROUP BY 1
        ), node_m AS (
          SELECT component, count(*) AS n_nodes FROM lbl GROUP BY 1
        )
        SELECT n.component, n.n_nodes, p.n_pairs, p.sum_inter, p.sum_union,
               round(CAST(p.sum_inter AS DOUBLE) / p.sum_union, 9) AS cohesion
        FROM node_m n JOIN pair_m p USING (component)"""
    )
    return sql.replace("WITH norm", "WITH RECURSIVE norm", 1)


def er_pipeline_oracle_sql(
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
    max_hamming: int = 6,
    snm_window: int = 4,
    snm_key_len: int = 12,
) -> str:
    """DuckDB replay of the multi-blocking entity-resolution pipeline:
    candidates = LSH banding ∪ SimHash pigeonhole ∪ sorted-neighborhood,
    exact-Jaccard verification over the union, recursive-closure
    components, per-component sizes.  The SimHash and SNM chains nest
    as derived tables (their own WITH scopes shadow the outer one)."""
    sim_sql = simhash_pairs_oracle_sql(max_hamming=max_hamming)
    snm_sql = sorted_neighborhood_oracle_sql(
        window=snm_window, key_len=snm_key_len
    )
    sql = (
        _cand_ctes(k, num_hashes, bands)
        + f""", sim AS (
          {sim_sql}
        ), snm AS (
          {snm_sql}
        ), allcand AS (
          SELECT a, b FROM cand
          UNION SELECT a, b FROM sim
          UNION SELECT a, b FROM snm
        )"""
        + _verify_ctes(k, threshold, cand="allcand")
        + """, und AS (
          SELECT a AS x, b AS y FROM vp UNION SELECT b AS x, a AS y FROM vp
        ), reach(id, comp) AS (
          SELECT x, x FROM und
          UNION
          SELECT u.x, r.comp FROM reach r JOIN und u ON u.y = r.id
        ), lbl AS (
          SELECT id, MIN(comp) AS component FROM reach GROUP BY id
        )
        SELECT component, count(*) AS n_nodes
        FROM lbl GROUP BY component"""
    )
    return sql.replace("WITH norm", "WITH RECURSIVE norm", 1)


def blocking_yield_oracle_sql(
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
    max_hamming: int = 6,
    snm_window: int = 4,
    snm_key_len: int = 12,
) -> str:
    """DuckDB replay of the blocking-yield diagnostics: per-family
    candidate counts left-joined against the verified pairs of the
    union."""
    sim_sql = simhash_pairs_oracle_sql(max_hamming=max_hamming)
    snm_sql = sorted_neighborhood_oracle_sql(
        window=snm_window, key_len=snm_key_len
    )
    return (
        _cand_ctes(k, num_hashes, bands)
        + f""", sim AS (
          {sim_sql}
        ), snm AS (
          {snm_sql}
        ), tagged AS (
          SELECT 'lsh' AS family, a, b FROM cand
          UNION ALL SELECT 'simhash' AS family, a, b FROM sim
          UNION ALL SELECT 'snm' AS family, a, b FROM snm
        ), allcand AS (
          SELECT DISTINCT a, b FROM tagged
        )"""
        + _verify_ctes(k, threshold, cand="allcand")
        + """
        SELECT family,
               count(*) AS n_candidates,
               CAST(count(v.a) AS BIGINT) AS n_verified,
               round(CAST(count(v.a) AS DOUBLE) / count(*), 9) AS "yield"
        FROM tagged t LEFT JOIN vp v ON v.a = t.a AND v.b = t.b
        GROUP BY family"""
    )


# --------------------------------------------------------------- AllPairs


def set_similarity_join(
    docs: DataFrame,
    k: int = 8,
    t_num: int = 1,
    t_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-threshold set-similarity self-join via prefix filtering
    (AllPairs, Bayardo et al. WWW'07; PPJoin length filter, Xiao et al.
    WWW'08): every pair with Jaccard(shingles(a), shingles(b)) >=
    t_num/t_den, with NO blocking key and NO hashing approximation —
    the exact complement to the probabilistic MinHash-banding path
    (reference parity: the same near-dup surface as
    /root/reference/src/openseize/... shingle dedup, but with a proof
    of completeness instead of a recall bound).

    Scale shape: a doc whose k-shingle set has size s only indexes its
    p = s - ceil(t*s) + 1 RAREST shingles (global document-frequency
    ascending, ties by shingle) — if two docs share NO prefix shingle,
    their Jaccard is provably < t, so the candidate join touches only
    prefix postings (p ≈ (1-t)s + 1 per doc), never the full inverted
    index; the size filter t*max(|a|,|b|) <= min(|a|,|b|) prunes the
    rest before verification.  Everything is equi-joins + one per-doc
    window (row_number over the doc's own shingles — bounded by text
    length); no all-pairs, no SinglePartition, no driver collect.

    Returns (a, b, inter, uni) — exact int64 intersection / union
    sizes for every qualifying pair.
    """
    norm = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("_id"),
        normalize_text(F.col(text_col)).alias("_txt"),
    )
    postings = norm.select(
        "_id", F.explode(_shingle_expr(F.col("_txt"), k)).alias("s")
    )
    dfreq = postings.groupBy("s").agg(F.count("*").alias("_df"))
    sz = postings.groupBy("_id").agg(F.count("*").alias("_sz"))

    w = Window.partitionBy("_id").orderBy("_df", "s")
    ordered = (
        postings.join(dfreq, "s")
        .withColumn("_rn", F.row_number().over(w))
        .join(sz, "_id")
    )
    # p = sz - ceil(t*sz) + 1, all-integer: ceil(a/b) = (a + b - 1) div b
    prefix = ordered.filter(
        F.col("_rn")
        <= F.col("_sz")
        - F.expr(f"(_sz * {t_num} + {t_den} - 1) DIV {t_den}")
        + 1
    ).select("_id", "s", "_sz")

    pa = prefix.select(
        F.col("_id").alias("a"), F.col("s"), F.col("_sz").alias("_sa")
    )
    pb = prefix.select(
        F.col("_id").alias("b"), F.col("s"), F.col("_sz").alias("_sb")
    )
    cand = (
        pa.join(pb, "s")
        .filter(F.col("a") < F.col("b"))
        .filter(
            F.greatest("_sa", "_sb") * t_num
            <= F.least("_sa", "_sb") * t_den
        )
        .select("a", "b", "_sa", "_sb")
        .distinct()
    )

    # verify with an in-row sorted-set intersection: two equi-joins
    # bring each doc's whole (distinct) shingle array to the candidate
    # row, size(array_intersect) is O(|set|) per pair with NO join
    # amplification — re-joining exploded postings would materialize
    # |candidates| * |set| rows before the group-count
    sets = norm.select(
        "_id", _shingle_expr(F.col("_txt"), k).alias("_set")
    )
    sa = sets.select(F.col("_id").alias("a"), F.col("_set").alias("_seta"))
    sb = sets.select(F.col("_id").alias("b"), F.col("_set").alias("_setb"))
    inter = (
        cand.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "inter",
            F.size(F.array_intersect("_seta", "_setb")).cast("bigint"),
        )
    )
    uni = (F.col("_sa") + F.col("_sb") - F.col("inter")).cast("bigint")
    return (
        inter.withColumn("uni", uni)
        .filter(F.col("inter") * t_den >= F.lit(t_num) * F.col("uni"))
        .select("a", "b", "inter", "uni")
    )


def set_similarity_join_oracle_sql(
    k: int = 8, t_num: int = 1, t_den: int = 2
) -> str:
    """DuckDB replay of ``set_similarity_join``: the operator is EXACT,
    so the oracle is the naive all-pairs intersection with the same
    threshold — completeness of the prefix filter is what's on trial."""
    return f"""
        WITH norm AS (
          SELECT doc_id, {normalize_text_sql()} AS nt
          FROM documents WHERE text IS NOT NULL
        ), sh AS (
          SELECT DISTINCT doc_id, substring(nt, i, {k}) AS s
          FROM norm,
               unnest(generate_series(1, greatest(length(nt) - {k - 1}, 0)))
               AS u(i)
        ), sz AS (
          SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS (
          SELECT sa.doc_id AS a, sb.doc_id AS b, count(*) AS i
          FROM sh sa JOIN sh sb ON sa.s = sb.s AND sa.doc_id < sb.doc_id
          GROUP BY 1, 2
        )
        SELECT i.a, i.b, CAST(i AS BIGINT) AS inter,
               CAST(za.n + zb.n - i AS BIGINT) AS uni
        FROM inter i
        JOIN sz za ON za.doc_id = i.a
        JOIN sz zb ON zb.doc_id = i.b
        WHERE i * {t_den} >= {t_num} * (za.n + zb.n - i)
    """


# -------------------------------------------------------------- winnowing


_POS_BASE = 1 << 20  # position field of the packed winnowing key


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-gram, slide a window
    of w consecutive hashes, and select each window's minimum (ties
    broken toward the RIGHTMOST position, per the paper's robust
    variant).  Guarantees: any shared substring of length >= w + k - 1
    yields at least one shared fingerprint, and the selected density is
    ~2/(w+1) of all grams — a compact sketch that, unlike MinHash,
    preserves match POSITIONS.

    Spark shape: the k-gram hash stream is one in-row ``transform`` +
    explode (no shuffle), the sliding minimum is a single per-doc
    window frame (ROWS BETWEEN CURRENT AND w-1 FOLLOWING) over the
    packed key h * 2^20 + (2^20 - pos) — min(key) IS (min hash,
    rightmost tie) — and the distinct selected keys decode back to
    (pos, fp).  One doc-keyed exchange total; rows per doc bounded by
    text length.

    Returns (doc_id, pos, fp): fp is the portable 32-bit md5-prefix
    hash of the k-gram starting at 1-based offset pos.
    """
    norm = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("doc_id"),
        normalize_text(F.col(text_col)).alias("_txt"),
    )
    grams = norm.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(least(length(_txt), "
                f"{_POS_BASE - 1}) - {k} + 1, 0)), i -> named_struct("
                f"'pos', CAST(i AS BIGINT), "
                f"'h', CAST(conv(substring(md5(substring(_txt, i, {k})), "
                f"1, 8), 16, 10) AS BIGINT)))"
            )
        ).alias("g"),
    ).select(
        "doc_id",
        F.col("g.pos").alias("pos"),
        (
            F.col("g.h") * _POS_BASE + (F.lit(_POS_BASE) - F.col("g.pos"))
        ).alias("_key"),
    )
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    frame = wspec.rowsBetween(0, w - 1)
    keyed = grams.select(
        "doc_id",
        "pos",
        F.min("_key").over(frame).alias("_mk"),
        F.count("*").over(wspec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("_npos"),
    )
    sel = (
        keyed.filter(F.col("pos") <= F.col("_npos") - w + 1)
        .select("doc_id", "_mk")
        .distinct()
    )
    return sel.select(
        "doc_id",
        (F.lit(_POS_BASE) - F.col("_mk") % _POS_BASE).alias("pos"),
        F.expr(f"_mk DIV {_POS_BASE}").alias("fp"),
    )


def winnow_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    max_df: int = 20,
    min_shared: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS-style match detection over winnowing fingerprints: drop
    fingerprints appearing in more than ``max_df`` documents (shared
    boilerplate — the paper's 'ignore common code' step, and the bound
    that keeps the self-join linear: each surviving fingerprint fans
    out to at most C(max_df, 2) pairs), then count distinct shared
    fingerprints per document pair.  Returns (a, b, shared) for pairs
    sharing >= min_shared fingerprints."""
    fps = (
        winnow_fingerprints(docs, k=k, w=w, text_col=text_col, id_col=id_col)
        .select("doc_id", "fp")
        .distinct()
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("fp")
    )
    pruned = fps.join(rare, "fp")
    pa = pruned.select(F.col("doc_id").alias("a"), "fp")
    pb = pruned.select(F.col("doc_id").alias("b"), "fp")
    return (
        pa.join(pb, "fp")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def _winnow_ctes(k: int, w: int) -> str:
    gram_hash = _HASH32_SQL.format(expr=f"substring(nt, i, {k})")
    return f"""
        WITH norm AS (
          SELECT doc_id, {normalize_text_sql()} AS nt
          FROM documents WHERE text IS NOT NULL
        ), g AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos,
                 {gram_hash} * {_POS_BASE} + ({_POS_BASE} - i) AS kkey
          FROM norm,
               unnest(generate_series(1,
                 greatest(least(length(nt), {_POS_BASE - 1}) - {k} + 1, 0)))
               AS u(i)
        ), wm AS (
          SELECT doc_id, pos,
                 min(kkey) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mk,
                 count(*) OVER (PARTITION BY doc_id) AS npos
          FROM g
        ), sel AS (
          SELECT DISTINCT doc_id, mk FROM wm WHERE pos <= npos - {w} + 1
        )"""


def winnow_pairs_oracle_sql(
    k: int = 5, w: int = 4, max_df: int = 20, min_shared: int = 3
) -> str:
    """DuckDB replay of ``winnow_pairs``."""
    return _winnow_ctes(k, w) + f""", fps AS (
          SELECT DISTINCT doc_id, CAST(mk // {_POS_BASE} AS BIGINT) AS fp
          FROM sel
        ), rare AS (
          SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {max_df}
        ), pruned AS (
          SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON r.fp = f.fp
        )
        SELECT pa.doc_id AS a, pb.doc_id AS b,
               CAST(count(*) AS BIGINT) AS shared
        FROM pruned pa JOIN pruned pb
          ON pa.fp = pb.fp AND pa.doc_id < pb.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {min_shared}
    """


# ------------------------------------------------------------- DAG layers


def dag_layers(edges: DataFrame, rounds: int = 8) -> DataFrame:
    """Longest-path layering of a DAG by iterated relaxation — the
    topological-level statistic (scheduling depth / dependency height):
    level(v) = length of the longest path ending at v, computed as
    ``rounds`` rounds of level(v) = max(level(v), max over edges (u,v)
    of level(u) + 1).  Inputs must be acyclic; the dedup graph directed
    a -> b with a < b is acyclic by construction.  Levels saturate at
    ``rounds`` — a chain deeper than that reports ``rounds`` — which
    makes the result a deterministic spec independent of convergence
    (the stationary_markov fixed-rounds discipline).  Each round is one
    equi-join + one max-aggregate; the edge set is the only large input
    and THIS function owns its materialization (repartition + persist
    below) — callers should pass the raw lazy edge plan, not a
    checkpoint (a caller-side localCheckpoint wastes a job and erases
    the partitioning re-established here).  Returns the level
    histogram (lv, n_docs).

    The edge list is STATIONARY across all ``rounds`` joins, so it is
    repartitioned on the join key and persisted: only the |V|-row level
    table moves per round.  The rounds run in-call: under AQE each
    round's ``localCheckpoint(eager=False)`` executes its shuffle stages
    when it is called.  One eager checkpoint of the small histogram
    finishes the work before the edge cache is released (the
    :func:`pagerank` shape), so the returned plan reads stored blocks
    and no cache outlives the call.
    """
    n_part = edges.sparkSession.sparkContext.defaultParallelism
    with session.persisted(edges.repartition(n_part, "a")) as edges:
        nodes = (
            edges.select(F.col("a").alias("v"))
            .unionByName(edges.select(F.col("b").alias("v")))
            .distinct()
        )
        lv = nodes.select("v", F.lit(0).cast("bigint").alias("lv"))
        for _ in range(rounds):
            # lv feeds BOTH the carry arm and the bump join — checkpoint
            # each round or the plan doubles per round (2^rounds
            # exchanges; the pca_power_iteration lesson)
            lv = lv.localCheckpoint(eager=False)
            bumped = (
                edges.join(lv, edges.a == lv.v)
                .select(F.col("b").alias("v"), (F.col("lv") + 1).alias("lv"))
            )
            lv = (
                lv.unionByName(bumped)
                .groupBy("v")
                .agg(F.max("lv").alias("lv"))
            )
        return (
            lv.groupBy("lv")
            .agg(F.count("*").cast("bigint").alias("n_docs"))
            .localCheckpoint(eager=True)
        )


def dag_layers_oracle_sql(
    rounds: int = 8,
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """DuckDB replay of ``dag_layers`` over the verified near-dup pairs
    directed a -> b: the shared vp CTE chain, then ``rounds`` unrolled
    relaxation rounds.  Each lv{r} references lv{r-1} twice (carry +
    bump), so the CTEs are MATERIALIZED against exponential inlining
    (the pca_power_iteration lesson)."""
    ctes = [_vpairs_ctes(k, num_hashes, bands, threshold)]
    ctes.append(""", e AS MATERIALIZED (
          SELECT a, b FROM vp WHERE a < b
        ), lv0 AS (
          SELECT v, CAST(0 AS BIGINT) AS lv FROM (
            SELECT a AS v FROM e UNION SELECT b AS v FROM e
          )
        )""")
    for r in range(1, rounds + 1):
        ctes.append(f""", lv{r} AS MATERIALIZED (
          SELECT v, CAST(max(lv) AS BIGINT) AS lv FROM (
            SELECT v, lv FROM lv{r - 1}
            UNION ALL
            SELECT e.b AS v, lv{r - 1}.lv + 1 AS lv
            FROM e JOIN lv{r - 1} ON e.a = lv{r - 1}.v
          ) GROUP BY v
        )""")
    return "".join(ctes) + f"""
        SELECT lv, CAST(count(*) AS BIGINT) AS n_docs
        FROM lv{rounds} GROUP BY lv
    """


# --------------------------------------------------------- Fellegi-Sunter

# Fixed match/non-match agreement probabilities (m, u) per comparison
# field and the derived log-likelihood weights in integer 1e-9 units
# (the fir-taps pattern: python-computed literals embedded identically
# in both engines).  agree -> ln(m/u), disagree -> ln((1-m)/(1-u)).
_FS_WEIGHTS = {
    # field: (agree_units, disagree_units)
    "lang": (1335001067, -2708050201),      # m=0.95, u=0.25
    "source": (1504077397, -2079441542),    # m=0.90, u=0.20
    "len": (2079441542, -1504077397),       # m=0.80, u=0.10
}
_FS_UPPER = 4605170186   # ln(100):  posterior odds 100:1 -> match
_FS_LOWER = -4605170186  # ln(0.01): odds 1:100 -> non-match


def fellegi_sunter_scores(
    docs: DataFrame,
    cand: DataFrame,
    id_col: str = "doc_id",
    len_band: int = 50,
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (JASA 1969) over a
    candidate pair stream: each pair's agreement vector on (lang,
    source, n_chars band) maps to a log-likelihood-ratio score — the
    sum of per-field ln(m/u) / ln((1-m)/(1-u)) weights — and the
    classic three-way decision (match / review / non-match) at fixed
    posterior-odds thresholds.  The statistical-scoring layer on top
    of the blocking families (LSH banding / SimHash / SNM): blocking
    bounds WHICH pairs are compared, FS decides WHAT a comparison
    means.

    Weights are integer 1e-9-unit constants (``_FS_WEIGHTS``) so the
    score is an exact int64 sum; all joins are id-keyed equi-joins
    against the (small) projected attribute table.  Returns
    (a, b, score_units, decision).
    """
    attrs = docs.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col("lang").alias("_lang"),
        F.col("source").alias("_src"),
        F.expr(f"CAST(n_chars DIV {len_band} AS BIGINT)").alias("_band"),
    )
    aa = attrs.select(
        F.col("_id").alias("a"),
        F.col("_lang").alias("_la"),
        F.col("_src").alias("_sa"),
        F.col("_band").alias("_ba"),
    )
    bb = attrs.select(
        F.col("_id").alias("b"),
        F.col("_lang").alias("_lb"),
        F.col("_src").alias("_sb"),
        F.col("_band").alias("_bb"),
    )
    wl, ws, wb = (
        _FS_WEIGHTS["lang"],
        _FS_WEIGHTS["source"],
        _FS_WEIGHTS["len"],
    )
    score = (
        F.when(F.col("_la") == F.col("_lb"), F.lit(wl[0])).otherwise(
            F.lit(wl[1])
        )
        + F.when(F.col("_sa") == F.col("_sb"), F.lit(ws[0])).otherwise(
            F.lit(ws[1])
        )
        + F.when(F.col("_ba") == F.col("_bb"), F.lit(wb[0])).otherwise(
            F.lit(wb[1])
        )
    ).cast("bigint")
    return (
        cand.select("a", "b")
        .join(aa, "a")
        .join(bb, "b")
        .select("a", "b", score.alias("score_units"))
        .withColumn(
            "decision",
            F.when(F.col("score_units") >= _FS_UPPER, F.lit("match"))
            .when(F.col("score_units") <= _FS_LOWER, F.lit("non_match"))
            .otherwise(F.lit("review")),
        )
    )


def fellegi_sunter_oracle_sql(
    k: int = 5,
    num_hashes: int = 64,
    bands: int = 8,
    len_band: int = 50,
) -> str:
    """DuckDB replay of ``fellegi_sunter_scores`` over the LSH candidate
    chain: same integer weight literals, same CASE arithmetic."""
    wl, ws, wb = (
        _FS_WEIGHTS["lang"],
        _FS_WEIGHTS["source"],
        _FS_WEIGHTS["len"],
    )
    return (
        _cand_ctes(k, num_hashes, bands)
        + f""", attrs AS (
          SELECT doc_id AS id, lang,
                 source, n_chars // {len_band} AS band
          FROM documents
        ), scored AS (
          SELECT c.a, c.b,
                 CAST(
                   (CASE WHEN x.lang = y.lang THEN {wl[0]}
                         ELSE {wl[1]} END)
                 + (CASE WHEN x.source = y.source THEN {ws[0]}
                         ELSE {ws[1]} END)
                 + (CASE WHEN x.band = y.band THEN {wb[0]}
                         ELSE {wb[1]} END) AS BIGINT) AS score_units
          FROM cand c
          JOIN attrs x ON x.id = c.a
          JOIN attrs y ON y.id = c.b
        )
        SELECT a, b, score_units,
               CASE WHEN score_units >= {_FS_UPPER} THEN 'match'
                    WHEN score_units <= {_FS_LOWER} THEN 'non_match'
                    ELSE 'review' END AS decision
        FROM scored"""
    )

"""Text queries over ``documents``: quality, language, tokenization, BPE,
n-gram language models and retrieval scoring.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window as W

from openseize_spark.llm import dedup, sketch, text as llm_text

from openseize_spark.registry import oracle_of, register
from openseize_spark.registry.common import (
    _BM25_QUERIES, _BPE_MERGES, _CM_PROBES, _dl_cte, _t,
)


def q_sentence_stats(spark, sf_dir):
    """Sentence-level text statistics: sentences split on
    terminal-punctuation boundaries (an RE2-safe pattern shared
    verbatim with the oracle — no lookbehind, which DuckDB's RE2
    lacks), per-doc sentence count and mean words per sentence.
    Pure codegen array ops, no shuffle beyond the scan."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sents = F.filter(
        F.split(F.col("text"), "[.!?]+\\s*"),
        lambda s: F.length(F.trim(s)) > 0,
    )
    words_per = F.transform(
        sents,
        lambda s: F.size(
            F.filter(F.split(F.trim(s), "\\s+"), lambda w: F.length(w) > 0)
        ),
    )
    return docs.select(
        "doc_id",
        F.size(sents).cast("bigint").alias("n_sentences"),
        F.aggregate(
            words_per, F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("n_words"),
    ).withColumn(
        "words_per_sentence",
        F.round(
            F.col("n_words").cast("double")
            / F.greatest(F.col("n_sentences"), F.lit(1)).cast("double"),
            9,
        ),
    )


register("sentence_stats", q_sentence_stats, """
        WITH s AS (
          SELECT doc_id,
                 list_filter(string_split_regex(text, '[.!?]+\\s*'),
                             x -> len(trim(x)) > 0) AS sents
          FROM documents WHERE text IS NOT NULL
        ), agg AS (
          SELECT doc_id,
                 CAST(len(sents) AS BIGINT) AS n_sentences,
                 CAST(list_sum(list_transform(sents,
                   x -> len(list_filter(string_split_regex(trim(x), '\\s+'),
                                        w -> len(w) > 0)))) AS BIGINT)
                   AS n_words
          FROM s
        )
        SELECT doc_id, n_sentences,
               coalesce(n_words, 0) AS n_words,
               round(CAST(coalesce(n_words, 0) AS DOUBLE)
                     / CAST(greatest(n_sentences, 1) AS DOUBLE), 9)
                 AS words_per_sentence
        FROM agg
    """)


def q_c4_clean(spark, sf_dir):
    """C4-style cleaning at sentence grain (llm/text.py c4_clean):
    doc-level drops for brace/lorem-ipsum/javascript content,
    sentence-level keeps for terminally-punctuated sentences of
    >= 3 words.  A deterministic subset (doc_id % 13 == 0) is
    augmented with offending content so the doc rules actually
    fire under the gate; both engines replay the identical
    augmentation.  One codegen scan, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" Lorem ipsum {dolor}.")),
        ).otherwise(F.col("text")),
    )
    return llm_text.c4_clean(aug, min_words=3)


register("c4_clean", q_c4_clean, """
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0
                      THEN text || ' Lorem ipsum {dolor}.'
                      ELSE text END AS text
          FROM documents WHERE text IS NOT NULL
        ), s AS (
          SELECT doc_id,
                 (contains(text, '{') OR contains(text, '}')
                  OR contains(lower(text), 'lorem ipsum')
                  OR contains(lower(text), 'javascript')) AS dropped_doc,
                 regexp_extract_all(text, '[^.!?]+[.!?]+') AS sents
          FROM aug
        ), kk AS (
          SELECT doc_id, dropped_doc, sents,
                 list_filter(sents,
                   x -> len(list_filter(string_split_regex(trim(x), '\\s+'),
                                        w -> len(w) > 0)) >= 3) AS kept
          FROM s
        )
        SELECT doc_id, dropped_doc,
               CAST(len(sents) AS BIGINT) AS n_sentences,
               CAST(CASE WHEN dropped_doc THEN 0 ELSE len(kept) END
                    AS BIGINT) AS n_kept,
               CASE WHEN dropped_doc OR len(kept) = 0 THEN NULL
                    ELSE array_to_string(list_transform(kept, x -> trim(x)),
                                         ' ')
               END AS clean_text
        FROM kk
    """)


def q_perplexity_tiers(spark, sf_dir):
    """CCNet's head/middle/tail split realized: documents bucketed
    by corpus-wide terciles of the unigram-LM score (lower = more
    fluent), reported per (tier, lang).  The tercile cuts are two
    scalar percentiles over already-exact scores, broadcast back;
    the bucketing is pure codegen.  This is the query that turns
    the LM quality score into a mixture decision."""
    docs = _t(spark, sf_dir, "documents")
    # the tercile cuts and the bucketing both consume the scored
    # table; checkpoint so the LM train + score pass runs once
    scored = llm_text.unigram_logprob(docs).join(
        docs.select("doc_id", "lang"), on="doc_id"
    ).localCheckpoint(eager=False)
    cuts = scored.agg(
        F.percentile(F.col("score"), F.lit(1.0 / 3.0)).alias("c1"),
        F.percentile(F.col("score"), F.lit(2.0 / 3.0)).alias("c2"),
    )
    tier = (
        F.when(F.col("score") <= F.col("c1"), "head")
        .when(F.col("score") <= F.col("c2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.join(F.broadcast(cuts))
        .groupBy(tier.alias("tier"), "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


register("perplexity_tiers", q_perplexity_tiers, lambda: f"""
        WITH scored AS (
          SELECT s.doc_id, s.n_tokens, s.score, d.lang
          FROM ({llm_text.unigram_logprob_oracle_sql(round_digits=9)}) s
          JOIN documents d ON s.doc_id = d.doc_id
        ), cuts AS (
          SELECT quantile_cont(score, CAST(1.0/3.0 AS DOUBLE)) AS c1,
                 quantile_cont(score, CAST(2.0/3.0 AS DOUBLE)) AS c2
          FROM scored
        )
        SELECT CASE WHEN score <= c1 THEN 'head'
                    WHEN score <= c2 THEN 'middle'
                    ELSE 'tail' END AS tier,
               lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM scored CROSS JOIN cuts
        GROUP BY tier, lang
    """)


def q_dataset_card(spark, sf_dir):
    """One-row dataset card: the corpus summary a dataset release
    ships with — document/byte/token totals, language and source
    breadth, exact duplicate rate — from one documents scan plus
    the fingerprint distinct (two-level, skew-safe).  All-integer
    until the final rate."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    words = dedup.tokenize(F.col("text"))
    fp = F.md5(dedup.normalize_text(F.col("text")))
    per_fp = docs.groupBy(fp.alias("_fp")).agg(F.count("*").alias("_n"))
    dups = per_fp.agg(
        F.sum("_n").alias("_docs"), F.count("*").alias("_distinct")
    )
    base = docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.octet_length("text")).cast("bigint").alias("n_bytes"),
        F.sum(F.size(words)).cast("bigint").alias("n_tokens"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )
    return base.join(F.broadcast(dups)).select(
        "n_docs",
        "n_bytes",
        "n_tokens",
        "n_langs",
        "n_sources",
        F.col("_distinct").cast("bigint").alias("n_distinct_texts"),
        F.round(
            F.lit(1.0)
            - F.col("_distinct").cast("double") / F.col("_docs").cast("double"),
            9,
        ).alias("dup_rate"),
    )


register("dataset_card", q_dataset_card, lambda: f"""
        WITH d AS (
          SELECT text,
                 {dedup.normalize_text_sql()} AS nt,
                 lang, source
          FROM documents WHERE text IS NOT NULL
        ), fp AS (
          SELECT md5(nt) AS f, count(*) AS n FROM d GROUP BY md5(nt)
        ), dups AS (
          SELECT sum(n) AS docs, count(*) AS dist FROM fp
        ), base AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
                 CAST(sum(len({dedup.tokenize_sql()})) AS BIGINT) AS n_tokens,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources
          FROM d
        )
        SELECT base.*,
               CAST(dups.dist AS BIGINT) AS n_distinct_texts,
               round(CAST(1.0 AS DOUBLE)
                     - CAST(dups.dist AS DOUBLE) / CAST(dups.docs AS DOUBLE),
                     9) AS dup_rate
        FROM base CROSS JOIN dups
    """)


def q_text_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    s = llm_text.text_stats(docs)
    return s.select("doc_id", "n_chars", "n_tokens", "avg_token_len")


register("text_stats", q_text_stats, lambda: f"""
            WITH norm AS (
              SELECT doc_id, text,
                     {dedup.normalize_text_sql()} AS nt
              FROM documents
            )
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST({llm_text._count_tokens_sql("nt")} AS BIGINT) AS n_tokens,
                   CAST(length(replace(nt, ' ', '')) AS DOUBLE) /
                     greatest({llm_text._count_tokens_sql("nt")}, 1)
                     AS avg_token_len
            FROM norm
        """)

# English function-word hits of stopword_score_by_lang
_EN_MARKERS = (" the ", " and ", " of ", " is ")


def q_stopword_score_by_lang(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    norm = F.concat(
        F.lit(" "), dedup.normalize_text(F.col("text")), F.lit(" ")
    )
    hits = llm_text._marker_hits(norm, _EN_MARKERS)
    return (
        docs.select("lang", hits.alias("_h"))
        .groupBy("lang")
        .agg(F.avg("_h").alias("avg_en_hits"), F.count("*").alias("n_docs"))
    )


register("stopword_score_by_lang", q_stopword_score_by_lang, lambda: f"""
            WITH norm AS (
              SELECT lang,
                     ' ' || {dedup.normalize_text_sql()} || ' ' AS nt
              FROM documents
            )
            SELECT lang,
                   avg({llm_text._marker_hits_sql("nt", _EN_MARKERS)}) AS avg_en_hits,
                   count(*) AS n_docs
            FROM norm GROUP BY lang
        """)


def q_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return llm_text.fingerprint(docs)


register("fingerprint", q_fingerprint, lambda: f"""
            SELECT doc_id,
                   md5({dedup.normalize_text_sql()}) AS fingerprint
            FROM documents
        """)


def q_token_count_by_source(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", llm_text.token_count(F.col("text")).alias("_tc"))
        .groupBy("source")
        .agg(F.sum("_tc").cast("bigint").alias("total_tokens"), F.count("*").alias("n_docs"))
    )


register("token_count_by_source", q_token_count_by_source, lambda: f"""
            SELECT source,
                   CAST(sum({llm_text.token_count_sql()}) AS BIGINT) AS total_tokens,
                   count(*) AS n_docs
            FROM documents GROUP BY source
        """)


def q_repetition_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return llm_text.repetition_stats(docs, n=3)


register("repetition_stats", q_repetition_stats, lambda: fr"""
            WITH norm AS (
              SELECT doc_id, {dedup.normalize_text_sql()} AS nt
              FROM documents
            ), words AS (
              SELECT doc_id,
                     CASE WHEN length(nt) = 0 THEN CAST([] AS VARCHAR[])
                          ELSE string_split(nt, ' ') END AS ws
              FROM norm
            ), rep AS (
              SELECT doc_id, ws,
                     CASE WHEN len(ws) >= 3 THEN
                       list_transform(generate_series(1, len(ws) - 2),
                                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                     ELSE CAST([] AS VARCHAR[]) END AS ngs
              FROM words
            )
            SELECT doc_id,
                   CAST(len(ws) AS BIGINT) AS n_words,
                   CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS n_ngrams,
                   CASE WHEN len(ws) > 0
                        THEN 1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                        ELSE 0.0 END AS dup_word_frac,
                   CASE WHEN len(ngs) > 0
                        THEN 1.0 - CAST(len(list_distinct(ngs)) AS DOUBLE) / len(ngs)
                        ELSE 0.0 END AS dup_ngram_frac
            FROM rep
        """)


def _augment_pii(docs):
    # The synthetic corpus contains no PII-shaped strings, so PII
    # queries run over text deterministically augmented from doc_id —
    # the regex match/redact paths are exercised for real and the
    # DuckDB oracles mirror the same injection (the `aug` CTE).
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" see https://data.example.org/doc/"), did.cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 0,
            F.concat(F.lit(" host 10.0."), (did % 256).cast("string"), F.lit(".17")),
        ).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit(" call +1-555-0142")).otherwise(F.lit("")),
    )
    return docs.withColumn("text", aug)


def q_pii_scan(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return llm_text.pii_scan(_augment_pii(docs))


register("pii_scan", q_pii_scan, r"""
            WITH aug AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 5 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                          ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' see https://data.example.org/doc/' || CAST(doc_id AS VARCHAR)
                          ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                          THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'
                          ELSE '' END
                     || CASE WHEN doc_id % 13 = 0 THEN ' call +1-555-0142' ELSE '' END
                       AS t
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(t, 'https?://[A-Za-z0-9./_%-]+')) AS BIGINT) AS n_urls,
                   CAST(len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(t, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
                   CAST(length(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           'https?://[A-Za-z0-9./_%-]+', '<URL>', 'g'),
                         '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
                       '\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
                   ) AS BIGINT) AS redacted_len
            FROM aug
        """)


def q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return llm_text.quality_score(docs)


register("quality_score", q_quality_score, lambda: f"""
            WITH norm AS (
              SELECT doc_id, text,
                     {dedup.normalize_text_sql()} AS nt
              FROM documents
            ), feats AS (
              SELECT doc_id,
                     CAST(length(text) AS DOUBLE) AS n_chars,
                     CAST({llm_text._count_tokens_sql("nt")} AS DOUBLE) AS n_tokens,
                     {llm_text._marker_hits_sql("text", llm_text._PUNCT)} AS punct,
                     {llm_text._marker_hits_sql("nt", llm_text._STOP_MARKERS)}
                       AS stop_hits
              FROM norm
            )
            SELECT doc_id,
                   ( least(n_chars / 500.0, 1.0) * 0.5
                   + least(stop_hits / greatest(n_tokens, 1) * 4.0, 1.0) * 0.5 )
                   * (CASE WHEN punct / greatest(n_chars, 1) > 0.1
                      THEN 0.5 ELSE 1.0 END) AS quality
            FROM feats
        """)

_lang_best = f"greatest({llm_text._LANG_SCORES_SQL})"


def q_language_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return llm_text.language_id(docs)


register("language_id", q_language_id, lambda: f"""
            WITH {llm_text._lang_scored_sql()}
            SELECT doc_id, {llm_text._lang_pred_sql(_lang_best)} AS lang_pred,
                   {_lang_best} AS score
            FROM scored
        """)


def q_top_ngrams(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return llm_text.top_ngrams(docs, n=3, k=10, by_col="lang")


register("top_ngrams", q_top_ngrams, lambda: f"""
        WITH words AS (
          SELECT lang, {dedup.tokenize_sql()} AS w
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT lang, concat_ws(' ', w[u.i], w[u.i + 1], w[u.i + 2]) AS ngram
          FROM words, unnest(generate_series(1, len(w) - 2)) AS u(i)
          WHERE len(w) >= 3
        ), counts AS (
          SELECT lang, ngram, count(*) AS cnt FROM grams GROUP BY lang, ngram
        )
        SELECT lang, ngram, cnt,
               CAST(row_number() OVER (
                 PARTITION BY lang ORDER BY cnt DESC, ngram
               ) AS BIGINT) AS rank
        FROM counts
        QUALIFY rank <= 10""")

# composed C4-style filter: reuse the three scorer replays verbatim
# as subqueries (DuckDB allows WITH inside a derived table).  The
# Spark query runs on the PII-augmented corpus, so the quality and
# repetition legs substitute the same augmented derived table the
# pii_scan replay builds internally.
_aug_tbl = """(
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 5 = 0
                      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                      ELSE '' END
                 || CASE WHEN doc_id % 7 = 0
                      THEN ' see https://data.example.org/doc/' || CAST(doc_id AS VARCHAR)
                      ELSE '' END
                 || CASE WHEN doc_id % 11 = 0
                      THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'
                      ELSE '' END
                 || CASE WHEN doc_id % 13 = 0 THEN ' call +1-555-0142' ELSE '' END
                   AS text
          FROM documents) AS documents"""


def q_quality_filter(spark, sf_dir):
    # run on the PII-augmented corpus so the PII leg of the composed
    # filter actually rejects rows (see _augment_pii)
    docs = _t(spark, sf_dir, "documents")
    return llm_text.quality_filter(
        _augment_pii(docs), min_quality=0.5, max_dup_ngram_frac=0.3, max_pii=2
    )


register("quality_filter", q_quality_filter, lambda: f"""
        SELECT q.doc_id, q.quality, r.dup_ngram_frac,
               CAST(p.n_emails + p.n_urls + p.n_ips + p.n_phones AS BIGINT)
                 AS n_pii
        FROM ({oracle_of('quality_score').replace('FROM documents', 'FROM ' + _aug_tbl)}) q
        JOIN ({oracle_of('repetition_stats').replace('FROM documents', 'FROM ' + _aug_tbl)}) r
          ON r.doc_id = q.doc_id
        JOIN ({oracle_of('pii_scan')}) p ON p.doc_id = q.doc_id
        WHERE q.quality >= 0.5 AND r.dup_ngram_frac <= 0.3
          AND p.n_emails + p.n_urls + p.n_ips + p.n_phones <= 2""")


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-5 TF-IDF keywords (llm/text.py tfidf_topk):
    integer-quantized idf so the rank key is exact int64; the rank
    window partitions on doc_id."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.tfidf_topk(docs, k=5)


register("tfidf_topk", q_tfidf_topk, lambda: llm_text.tfidf_topk_oracle_sql(k=5))


def q_bm25_topk(spark, sf_dir):
    """BM25 sparse retrieval (llm/text.py bm25_topk): three keyword
    queries against the documents table, integer-unit scores, top-10
    per query via a per-query rank window."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.bm25_topk(docs, queries=_BM25_QUERIES, k=10)


register("bm25_topk", q_bm25_topk, lambda: llm_text.bm25_topk_oracle_sql(queries=_BM25_QUERIES, k=10))


def q_rrf_fusion(spark, sf_dir):
    """Hybrid-retrieval rank fusion (llm/text.py rrf_fusion): BM25
    and integer-unit TF-IDF rankers merged by reciprocal-rank
    fusion over the same three keyword queries — calibration-free
    ranker merging, the standard hybrid-search combiner."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.rrf_fusion(docs, queries=_BM25_QUERIES, k=10)


register("rrf_fusion", q_rrf_fusion, lambda: llm_text.rrf_fusion_oracle_sql(queries=_BM25_QUERIES, k=10))


def q_countmin_words(spark, sf_dir):
    """Count-Min sketch probe (llm/sketch.py): 4x256 salted-md5 grid
    over the corpus token stream, point estimates (min over rows)
    next to exact counts for a fixed probe list — the mergeable
    approximate-counting primitive, deterministic given the hashes
    so the grid replays exactly in SQL."""
    from openseize_spark.llm import sketch

    docs = _t(spark, sf_dir, "documents")
    return sketch.countmin_estimate(
        docs, probe_words=_CM_PROBES, depth=4, width=256
    )


register("countmin_words", q_countmin_words, lambda: sketch.countmin_estimate_oracle_sql(
    probe_words=_CM_PROBES, depth=4, width=256
))


def q_length_quantiles(spark, sf_dir):
    """Corpus length distribution per language: exact interpolated
    quartiles/p90 of n_chars (engine-native sort-based percentile)."""
    docs = _t(spark, sf_dir, "documents")
    pct = F.percentile(F.col("n_chars"), F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9)]))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(pct[0], 6).alias("p25"),
        F.round(pct[1], 6).alias("p50"),
        F.round(pct[2], 6).alias("p75"),
        F.round(pct[3], 6).alias("p90"),
    )


# length_quantiles: Spark's exact percentile and DuckDB's
# quantile_cont both linearly interpolate on the sorted values
register("length_quantiles", q_length_quantiles, """
        SELECT lang, count(*) AS n_docs,
               round(quantile_cont(n_chars, 0.25), 6) AS p25,
               round(quantile_cont(n_chars, 0.5), 6) AS p50,
               round(quantile_cont(n_chars, 0.75), 6) AS p75,
               round(quantile_cont(n_chars, 0.9), 6) AS p90
        FROM documents GROUP BY lang""")


def q_quality_prune(spark, sf_dir):
    """FineWeb-style per-language quality pruning (llm/text.py
    quality_prune): keep the top 1/5 of documents per lang by
    composite quality, rational keep fraction so the cut is integer
    arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.quality_prune(docs, keep_num=1, keep_den=5).select(
        "doc_id", "lang", "quality"
    )


# quality_prune: rank per lang over the (bit-exact) quality CTE; the
# rational keep cut (rn*den <= cnt*num) is pure integer arithmetic
register("quality_prune", q_quality_prune, lambda: f"""
        WITH q AS ({oracle_of("quality_score")}),
        j AS (
          SELECT q.doc_id, d.lang, q.quality
          FROM q JOIN documents d USING (doc_id)
        ), r AS (
          SELECT doc_id, lang, quality,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY quality DESC, doc_id) AS rn,
                 count(*) OVER (PARTITION BY lang) AS cnt
          FROM j
        )
        SELECT doc_id, lang, quality FROM r WHERE rn * 5 <= cnt * 1""")


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style perplexity-proxy quality score (llm/text.py
    unigram_logprob): corpus-derived unigram LM, per-doc mean
    negative logprob, per-word logprob quantized to integer 1e-9
    units on both engines so the weighted sum is exact int64."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.unigram_logprob(docs)


register("unigram_logprob", q_unigram_logprob, lambda: llm_text.unigram_logprob_oracle_sql(round_digits=9))


def q_bigram_logprob(spark, sf_dir):
    """Laplace-smoothed bigram LM quality score (llm/text.py
    bigram_logprob): adjacent-pair logprobs from the corpus bigram
    table, quantized to integer 1e-9 units so the weighted sum is
    exact int64 — the step from CCNet's unigram proxy toward the
    KenLM perplexity filter."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.bigram_logprob(docs)


register("bigram_logprob", q_bigram_logprob, lambda: llm_text.bigram_logprob_oracle_sql(round_digits=9))


def q_tfidf_cosine_pairs(spark, sf_dir):
    """Sparse TF-IDF cosine all-pairs similarity (llm/text.py
    tfidf_cosine_pairs): posting-list self-join over df-pruned rare
    terms, integer-unit weights, IEEE-exact cosine.  The lexical
    near-dup complement to MinHash banding.

    The registered call passes an absolute df cap — the sf1 scaling bench
    measured the purely-relative df cut at exponent 1.58 (candidate
    pairs grow ~N^2 once 5%*N outruns any fixed posting bound), and
    the absolute cap bounds per-term fan-out at C(cap,2) regardless
    of corpus size.  The cap VALUE is 512, not 256: the Heaps-law
    recall study (tools/heaps_recall.py) measured
    near-dup-pair recall at N=50k of 94.6% under cap 256 but 99.8%
    under cap 512 at only 1.4x the cost (COVERAGE.md has the full
    frontier table).  At every gate scale 5%*N <= 250 < 512, so
    the cap is INERT there: capped and uncapped outputs are
    bit-identical and the oracle hash cannot move (proved by a
    capped-vs-uncapped DuckDB diff + tools/plan_neutrality.py at
    sf0.001/sf0.01/sf0.1).  The uncapped arm stays available as the explicit
    opt-in ``llm_text.tfidf_cosine_pairs(docs, ...,
    max_df_abs=None)``; the registered ``tfidf_cosine_capped``
    twin keeps the tighter 256 cap as the max-scale arm."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.tfidf_cosine_pairs(
        docs, threshold=0.3, max_df_pct=5, max_df_abs=512
    )


register("tfidf_cosine_pairs", q_tfidf_cosine_pairs, lambda: llm_text.tfidf_cosine_pairs_oracle_sql(
    threshold=0.3, max_df_pct=5, round_digits=4, max_df_abs=512
))


def q_doc_chunks(spark, sf_dir):
    """RAG/embedding chunking (llm/text.py doc_chunks): overlapping
    64-word windows on a 48-word stride with the final chunk pinned
    to the document tail — zero-shuffle, pure codegen explode."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.doc_chunks(docs, chunk_words=64, stride=48)


register("doc_chunks", q_doc_chunks, lambda: llm_text.doc_chunks_oracle_sql(chunk_words=64, stride=48))


def q_bpe_encode(spark, sf_dir):
    """BPE tokenizer apply (llm/text.py bpe_apply): a fixed ordered
    merge table — including cascaded merges that consume earlier
    outputs ('t'+'h' -> 'th', then 'th'+'e' -> 'the') — encoded on
    the distinct word table via chained codegen replaces, then
    joined back for per-doc token counts."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.bpe_apply(docs, merges=_BPE_MERGES)


register("bpe_encode", q_bpe_encode, lambda: llm_text.bpe_apply_oracle_sql(merges=_BPE_MERGES))


def q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary / Zipf table (llm/text.py vocab_stats):
    top-100 words with exact counts, rank, and cumulative coverage;
    rank + running sum via the broadcast inequality self-join over
    the top-k survivors, never a vocabulary-wide window."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.vocab_stats(docs, top_k=100)


register("vocab_stats", q_vocab_stats, lambda: llm_text.vocab_stats_oracle_sql(top_k=100))


def q_bpe_pair_counts(spark, sf_dir):
    """First BPE training iteration (llm/text.py bpe_pair_counts):
    corpus-wide adjacent char-pair counts weighted by word
    frequency, top-50 with rank via the broadcast self-join."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.bpe_pair_counts(docs, top_k=50)


register("bpe_pair_counts", q_bpe_pair_counts, lambda: llm_text.bpe_pair_counts_oracle_sql(top_k=50))


def q_source_divergence(spark, sf_dir):
    """Per-source KL divergence from the corpus unigram distribution
    (llm/text.py source_divergence): integer-quantized log ratios so
    the weighted sums are exact int64."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.source_divergence(docs)


register("source_divergence", q_source_divergence, llm_text.source_divergence_oracle_sql)


def q_hashed_features(spark, sf_dir):
    """Feature-hashing document vectors (llm/text.py
    hashed_doc_features): fixed 64-dim signed-bucket embeddings
    with no vocabulary to build or broadcast — all-integer
    invariants (occurrences, nnz, exact squared norm, parity-probe
    dot) pin every bucket through the gate."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.hashed_doc_features(docs, dim=64, seed="fh6")


register("hashed_features", q_hashed_features, lambda: llm_text.hashed_doc_features_oracle_sql(
    dim=64, seed="fh6"
))


def q_language_margin(spark, sf_dir):
    """Language-ID confidence margins (llm/text.py
    language_margin): best vs second-best marker score per doc —
    the routing signal separating confident predictions from
    ambiguous ones.  Pure codegen scan like language_id."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.language_margin(docs)


register("language_margin", q_language_margin, lambda: f"""
        WITH {llm_text._lang_scored_sql()}, arr AS (
          SELECT doc_id, {llm_text._LANG_SCORES_SQL},
                 list_sort([{llm_text._LANG_SCORES_SQL}]) AS a
          FROM scored
        )
        SELECT doc_id, {llm_text._lang_pred_sql(_lang_best)} AS lang_pred,
               round(a[-1], 9) AS score,
               round(a[-2], 9) AS second_score,
               round(a[-1] - a[-2], 9) AS margin
        FROM arr""")

_zslope_sql = (
    "((CAST(n AS DOUBLE) * sxy - sx * sy)"
    " / (CAST(n AS DOUBLE) * sxx - sx * sx))"
)


def q_zipf_fit(spark, sf_dir):
    """Zipf law fit over the corpus vocabulary: OLS of ln(freq) on
    ln(rank) for the top-200 words — the standard tokenizer/corpus
    sanity diagnostic (natural text slopes near -1).  Ranks and
    counts come exact from vocab_stats (broadcast inequality rank,
    no vocabulary-wide single-partition window); the 200-term float
    moment sums sit ~7 orders above their cross-engine summation-
    order noise, guarded by the 9-digit round."""
    docs = _t(spark, sf_dir, "documents")
    v = llm_text.vocab_stats(docs, top_k=200).select("rank", "cnt")
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("cnt").cast("double"))
    m = v.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(lx).alias("_sx"),
        F.sum(ly).alias("_sy"),
        F.sum(lx * ly).alias("_sxy"),
        F.sum(lx * lx).alias("_sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    return m.select(
        "n",
        F.round(slope, 9).alias("zipf_slope"),
        F.round((F.col("_sy") - slope * F.col("_sx")) / nd, 9).alias(
            "ln_intercept"
        ),
    )


register("zipf_fit", q_zipf_fit, lambda: f"""
        WITH toks AS ({llm_text._token_rows_sql("", "word")}), vocab AS (
          SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY word
        ), ranked AS (
          SELECT cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT)
                   AS rank
          FROM vocab
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(ln(CAST(rank AS DOUBLE))) AS sx,
                 sum(ln(CAST(cnt AS DOUBLE))) AS sy,
                 sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)))
                   AS sxy,
                 sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)))
                   AS sxx
          FROM ranked WHERE rank <= 200
        )
        SELECT n,
               round({_zslope_sql}, 9) AS zipf_slope,
               round((sy - {_zslope_sql} * sx) / CAST(n AS DOUBLE), 9)
                 AS ln_intercept
        FROM m""")


def q_char_entropy(spark, sf_dir):
    """Per-source Shannon entropy of the character distribution —
    the cheap encoding/junk screen (mojibake, binary spill, and
    boilerplate all shift it).  Char counts are exact int64 via
    explode + two-level aggregate (shuffle bounded at |sources| x
    |alphabet|); entropy -sum(p*log2 p) spans ~25 terms per source,
    9-digit-rounded."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = (
        docs.select(
            "source", F.explode(F.split(F.col("text"), "")).alias("ch")
        )
        .groupBy("source", "ch")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    tot = c.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("_n"))
    p = F.col("cnt").cast("double") / F.col("_n").cast("double")
    return (
        c.join(F.broadcast(tot), on="source")
        .groupBy("source")
        .agg(
            F.max("_n").alias("n_chars"),
            F.count("*").cast("bigint").alias("alphabet"),
            F.round(-F.sum(p * F.log2(p)), 9).alias("entropy_bits"),
        )
    )


register("char_entropy", q_char_entropy, """
        WITH ch AS (
          SELECT source, u.ch AS ch
          FROM (
            SELECT source, string_split(text, '') AS cl
            FROM documents WHERE text IS NOT NULL
          ), unnest(cl) AS u(ch)
        ), c AS (
          SELECT source, ch, CAST(count(*) AS BIGINT) AS cnt
          FROM ch GROUP BY source, ch
        ), tot AS (
          SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY source
        )
        SELECT c.source,
               max(tot.n) AS n_chars,
               CAST(count(*) AS BIGINT) AS alphabet,
               round(-sum((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
                          * log2(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))),
                     9) AS entropy_bits
        FROM c JOIN tot ON tot.source = c.source
        GROUP BY c.source""")


def q_readability(spark, sf_dir):
    """Flesch reading-ease per document from engine-portable exact
    counts: whitespace tokens (token_count), sentence marks
    ([.!?]+ runs, floored at 1 — the synthetic corpus has none, so
    the words-per-sentence term degenerates to the word count,
    exercised all the same), and syllable proxies ([aeiouy]+ vowel
    groups).  The score is one mirrored float chain on three exact
    int64 counts — the classic cheap quality feature for corpus
    filtering.  Pure codegen string functions, no UDFs."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = llm_text.token_count(F.col("text")).cast("bigint")
    syll = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("bigint")
    sent = F.greatest(
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))
        ).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    out = docs.select(
        "doc_id",
        words.alias("n_words"),
        sent.alias("n_sentences"),
        syll.alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    flesch = (
        F.lit(206.835)
        - 1.015
        * (
            F.col("n_words").cast("double")
            / F.col("n_sentences").cast("double")
        )
        - 84.6
        * (
            F.col("n_syllables").cast("double")
            / F.col("n_words").cast("double")
        )
    )
    return out.withColumn("flesch", F.round(flesch, 9))


register("readability", q_readability, lambda: f"""
        WITH c AS (
          SELECT doc_id,
                 CAST({llm_text.token_count_sql()} AS BIGINT) AS n_words,
                 CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                      AS BIGINT) AS n_sentences,
                 CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
                   AS n_syllables
          FROM documents WHERE text IS NOT NULL
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               round(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE)
                                / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (CAST(n_syllables AS DOUBLE)
                               / CAST(n_words AS DOUBLE)), 9) AS flesch
        FROM c WHERE n_words > 0""")


def q_nb_lang_scores(spark, sf_dir):
    """Multinomial naive-Bayes language scores — the
    classifier-based quality/routing pass of a corpus pipeline,
    trained and applied in one plan: Laplace-smoothed ln P(w|lang)
    from exact token counts, densified over vocab x langs (both
    bounded far below corpus size at any SF), then one
    tokens-to-model equi-join sums each document's score against
    every language.  Emitted per (doc, lang) — argmax belongs to
    the consumer, so no cross-engine float comparison decides a
    row's content."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", "lang", F.explode(dedup.tokenize(F.col("text"))).alias("w")
    )
    # vocab-x-langs bounded; three consumers (totals, vocab, the
    # model densify join) — checkpoint so the token explode +
    # count aggregate runs once for training (scoring re-explodes
    # at doc grain by necessity)
    cnt = toks.groupBy("lang", "w").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).localCheckpoint(eager=False)
    tot = cnt.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    )
    vocab = cnt.select("w").distinct()
    vsize = vocab.agg(F.count("*").cast("bigint").alias("v"))
    model = (
        vocab.crossJoin(tot)
        .join(cnt, on=["lang", "w"], how="left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "lang",
            "w",
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
                / (F.col("tot") + F.col("v")).cast("double")
            ).alias("_lp"),
        )
    )
    return (
        toks.select("doc_id", "w")
        .join(model.withColumnRenamed("lang", "score_lang"), on="w")
        .groupBy("doc_id", "score_lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.sum("_lp"), 9).alias("log_score"),
        )
    )


register("nb_lang_scores", q_nb_lang_scores, lambda: f"""
        WITH toks AS ({llm_text._token_rows_sql("doc_id, lang")}), cnt AS (
          SELECT lang, w, CAST(count(*) AS BIGINT) AS cnt FROM toks
          GROUP BY lang, w
        ), tot AS (
          SELECT lang, CAST(sum(cnt) AS BIGINT) AS tot FROM cnt
          GROUP BY lang
        ), vocab AS (SELECT DISTINCT w FROM cnt),
        vs AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
        model AS (
          SELECT t.lang, vb.w,
                 ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE)
                    / CAST(t.tot + vs.v AS DOUBLE)) AS lp
          FROM vocab vb
          CROSS JOIN tot t
          LEFT JOIN cnt c ON c.lang = t.lang AND c.w = vb.w
          CROSS JOIN vs
        )
        SELECT tk.doc_id, m.lang AS score_lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(sum(m.lp), 9) AS log_score
        FROM (SELECT doc_id, w FROM toks) tk
        JOIN model m ON m.w = tk.w
        GROUP BY tk.doc_id, m.lang""")


def q_negsample_table(spark, sf_dir):
    """Word2vec-style negative-sampling table: the top-100 vocab
    with unigram^0.75 weights and normalized sampling shares — the
    smoothed-unigram draw distribution contrastive training uses.
    Ranks/counts come exact from vocab_stats; pow(c, 0.75) is the
    one libm call (1-2 ulp cross-engine, 6+ digits under the
    9-digit round); the 100-term weight total is a bounded final
    aggregate."""
    docs = _t(spark, sf_dir, "documents")
    v = llm_text.vocab_stats(docs, top_k=100).select(
        "word", "cnt", "rank"
    )
    w = F.pow(F.col("cnt").cast("double"), F.lit(0.75))
    v2 = v.withColumn("_w", w)
    tot = v2.agg(F.sum("_w").alias("_tw"))
    return (
        v2.crossJoin(F.broadcast(tot))
        .select(
            "word",
            "cnt",
            "rank",
            F.round("_w", 9).alias("weight"),
            F.round(F.col("_w") / F.col("_tw"), 9).alias("share"),
        )
    )


register("negsample_table", q_negsample_table, lambda: f"""
        WITH toks AS ({llm_text._token_rows_sql("", "word")}), vocab AS (
          SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY word
        ), ranked AS (
          SELECT word, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT)
                   AS rank
          FROM vocab
        ), top AS (
          SELECT word, cnt, rank,
                 pow(CAST(cnt AS DOUBLE), CAST(0.75 AS DOUBLE)) AS w
          FROM ranked WHERE rank <= 100
        ), tw AS (SELECT sum(w) AS tw FROM top)
        SELECT word, cnt, rank,
               round(w, 9) AS weight,
               round(w / tw, 9) AS share
        FROM top CROSS JOIN tw""")


def q_nb_confusion(spark, sf_dir):
    """Confusion matrix for the naive-Bayes language classifier:
    per-doc argmax over the nb_lang_scores table (9-digit-rounded
    scores with a lexicographic tiebreak, so both engines pick the
    same label) joined against the true lang — the evaluation
    closing the train/score/evaluate classifier loop.  At most
    |langs|^2 cells."""
    nb = q_nb_lang_scores(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy(
        F.desc("log_score"), F.asc("score_lang")
    )
    pred = (
        nb.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("score_lang").alias("pred_lang"))
    )
    truth = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        truth.join(pred, on="doc_id")
        .groupBy(F.col("lang").alias("true_lang"), "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


register("nb_confusion", q_nb_confusion, lambda: f"""
        WITH nb AS ({oracle_of("nb_lang_scores")}),
        pred AS (
          SELECT doc_id, score_lang AS pred_lang FROM (
            SELECT doc_id, score_lang,
                   row_number() OVER (
                     PARTITION BY doc_id
                     ORDER BY log_score DESC, score_lang
                   ) AS rn
            FROM nb
          ) WHERE rn = 1
        )
        SELECT d.lang AS true_lang, p.pred_lang,
               CAST(count(*) AS BIGINT) AS n
        FROM documents d JOIN pred p ON p.doc_id = d.doc_id
        GROUP BY d.lang, p.pred_lang""")


def q_word_pmi(spark, sf_dir):
    """Pointwise mutual information for co-occurring top-30 words
    (document-level co-occurrence): which vocabulary pairs appear
    together more than independence predicts — the collocation /
    topic-structure signal.  Presence sets are restricted to the
    top-30 vocabulary BEFORE pairing, so the per-doc set is bounded
    at 30 and the quadratic pairing happens IN-ROW over one
    collect_set aggregate (the market-basket shape): one doc-keyed
    shuffle total, no presence self-join, and the doc frequencies
    derive from the same checkpointed set table.  Counts are exact
    int64 and the PMI log argument is a ratio of exact integer
    products."""
    docs = _t(spark, sf_dir, "documents")
    top = llm_text.vocab_stats(docs, top_k=30).select("word")
    gs = (
        llm_text._token_rows(docs, "text", "word", "doc_id")
        .join(F.broadcast(top), on="word")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("word")).alias("_ws"))
        .localCheckpoint(eager=False)
    )
    n_docs = docs.filter(F.col("text").isNotNull()).agg(
        F.count("*").cast("bigint").alias("_N")
    )
    df_w = (
        gs.select(F.explode("_ws").alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("_df"))
    )
    ws = F.col("_ws")
    pair_arr = F.flatten(
        F.transform(
            ws,
            lambda x, i: F.transform(
                F.slice(ws, i + F.lit(2), F.size(ws)),
                lambda y: F.struct(x.alias("word_a"), y.alias("word_b")),
            ),
        )
    )
    pairs = (
        gs.filter(F.size("_ws") >= 2)
        .select(F.explode(pair_arr).alias("_p"))
        .select("_p.word_a", "_p.word_b")
        .groupBy("word_a", "word_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    return (
        pairs.join(
            F.broadcast(df_w.withColumnRenamed("word", "word_a")
                        .withColumnRenamed("_df", "_dfa")),
            on="word_a",
        )
        .join(
            F.broadcast(df_w.withColumnRenamed("word", "word_b")
                        .withColumnRenamed("_df", "_dfb")),
            on="word_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word_a",
            "word_b",
            "n_ab",
            F.round(
                F.log2(
                    (F.col("n_ab") * F.col("_N")).cast("double")
                    / (F.col("_dfa") * F.col("_dfb")).cast("double")
                ),
                9,
            ).alias("pmi"),
        )
    )


register("word_pmi", q_word_pmi, lambda: f"""
        WITH toks AS ({llm_text._token_rows_sql(word="word")}), vocab AS (
          SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks
          GROUP BY word
        ), top AS (
          SELECT word FROM (
            SELECT word,
                   row_number() OVER (ORDER BY cnt DESC, word) AS rank
            FROM vocab
          ) WHERE rank <= 30
        ), dw AS (
          SELECT DISTINCT t.doc_id, t.word FROM toks t
          JOIN top ON top.word = t.word
        ), nd AS (
          SELECT CAST(count(*) AS BIGINT) AS N FROM documents
          WHERE text IS NOT NULL
        ), dfw AS (
          SELECT word, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY word
        ), pairs AS (
          SELECT a.word AS word_a, b.word AS word_b,
                 CAST(count(*) AS BIGINT) AS n_ab
          FROM dw a JOIN dw b ON a.doc_id = b.doc_id AND a.word < b.word
          GROUP BY a.word, b.word
          HAVING count(*) >= 5
        )
        SELECT p.word_a, p.word_b, p.n_ab,
               round(log2(CAST(p.n_ab * nd.N AS DOUBLE)
                          / CAST(fa.df * fb.df AS DOUBLE)), 9) AS pmi
        FROM pairs p
        JOIN dfw fa ON fa.word = p.word_a
        JOIN dfw fb ON fb.word = p.word_b
        CROSS JOIN nd""")


def q_kneser_ney_bigram(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities (discount
    0.75) — the canonical LM smoothing, next to the Laplace
    unigram/bigram scores: P(w2|w1) = (c12 - d)/c1 + (d * N1+left
    / c1) * (N1+right / bigram_types), every count exact int64
    from doc-windowed adjacent pairs and every continuation count
    a distinct-count aggregate; one mirrored float chain per row.
    Emitted for bigrams with c12 >= 3 (bounded output), the model
    table a perplexity filter would consume."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select(
        "doc_id", F.posexplode(dedup.tokenize(F.col("text"))).alias("pos", "w")
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    bi = (
        toks.select(
            F.col("w").alias("w1"),
            F.lead("w").over(wdoc).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
        # four consumers (left/right continuation counts, type total,
        # output rows); the checkpoint keeps the token explode +
        # per-doc window to ONE pass instead of four
        .localCheckpoint(eager=False)
    )
    c1 = bi.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("_c1"),
        F.count("*").cast("bigint").alias("_nl"),
    )
    nr = bi.groupBy("w2").agg(
        F.count("*").cast("bigint").alias("_nr")
    )
    tt = bi.agg(F.count("*").cast("bigint").alias("_T"))
    p = (
        (F.col("c12").cast("double") - 0.75)
        / F.col("_c1").cast("double")
        + (
            0.75
            * F.col("_nl").cast("double")
            / F.col("_c1").cast("double")
        )
        * (F.col("_nr").cast("double") / F.col("_T").cast("double"))
    )
    return (
        bi.filter(F.col("c12") >= 3)
        .join(F.broadcast(c1), on="w1")
        .join(F.broadcast(nr), on="w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(p, 9).alias("p_kn"),
        )
    )


register("kneser_ney_bigram", q_kneser_ney_bigram, lambda: f"""
        WITH dl AS ({_dl_cte}
        ), bi AS (
          SELECT wl[i.i] AS w1, wl[i.i + 1] AS w2,
                 CAST(count(*) AS BIGINT) AS c12
          FROM dl, unnest(generate_series(1, len(wl) - 1)) AS i(i)
          GROUP BY 1, 2
        ), c1 AS (
          SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                 CAST(count(*) AS BIGINT) AS nl
          FROM bi GROUP BY w1
        ), nr AS (
          SELECT w2, CAST(count(*) AS BIGINT) AS nr FROM bi GROUP BY w2
        ), tt AS (SELECT CAST(count(*) AS BIGINT) AS T FROM bi)
        SELECT b.w1, b.w2, b.c12,
               round((CAST(b.c12 AS DOUBLE) - 0.75)
                     / CAST(c1.c1 AS DOUBLE)
                     + (0.75 * CAST(c1.nl AS DOUBLE)
                        / CAST(c1.c1 AS DOUBLE))
                       * (CAST(nr.nr AS DOUBLE) / CAST(tt.T AS DOUBLE)),
                     9) AS p_kn
        FROM bi b
        JOIN c1 ON c1.w1 = b.w1
        JOIN nr ON nr.w2 = b.w2
        CROSS JOIN tt
        WHERE b.c12 >= 3""")


def q_padding_waste(spark, sf_dir):
    """Length-bucket batching efficiency: docs bucketed by
    token-length // 64, per-bucket padded-token waste
    (sum of bucket_max - len) next to what padding to the GLOBAL
    max would cost — the measurement behind length-bucketed batch
    construction (why you bucket before padding).  All exact
    int64; the saving ratio divides once."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    n = llm_text.token_count(F.col("text")).cast("bigint")
    d = docs.select(n.alias("len")).filter(F.col("len") > 0)
    b = d.withColumn("bucket", F.floor(F.col("len") / 64).cast("bigint"))
    per = b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.max("len").cast("bigint").alias("bucket_max"),
        F.sum("len").cast("bigint").alias("_sum_len"),
    ).withColumn(
        "bucket_waste",
        (F.col("n_docs") * F.col("bucket_max") - F.col("_sum_len"))
        .cast("bigint"),
    )
    g = d.agg(
        F.max("len").cast("bigint").alias("_gmax"),
        F.count("*").cast("bigint").alias("_gn"),
        F.sum("len").cast("bigint").alias("_gsum"),
    )
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "bucket",
            "n_docs",
            "bucket_max",
            "bucket_waste",
            (F.col("n_docs") * F.col("_gmax") - F.col("_sum_len"))
            .cast("bigint")
            .alias("global_pad_waste"),
            # a bucket whose docs all sit at the global max has
            # zero waste either way: define the saving as 0 there
            # (ANSI division guard)
            F.when(
                (F.col("n_docs") * F.col("_gmax") - F.col("_sum_len"))
                == 0,
                F.lit(0.0),
            )
            .otherwise(
                F.round(
                    F.lit(1.0)
                    - F.col("bucket_waste").cast("double")
                    / (
                        F.col("n_docs") * F.col("_gmax")
                        - F.col("_sum_len")
                    ).cast("double"),
                    9,
                )
            )
            .alias("saving_ratio"),
        )
    )


register("padding_waste", q_padding_waste, lambda: f"""
        WITH d AS (
          SELECT CAST({llm_text.token_count_sql()} AS BIGINT) AS len
          FROM documents WHERE text IS NOT NULL
        ), b AS (
          SELECT len, CAST(len // 64 AS BIGINT) AS bucket FROM d
          WHERE len > 0
        ), per AS (
          SELECT bucket,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(max(len) AS BIGINT) AS bucket_max,
                 CAST(sum(len) AS BIGINT) AS sum_len
          FROM b GROUP BY bucket
        ), g AS (
          SELECT CAST(max(len) AS BIGINT) AS gmax FROM b
        )
        SELECT bucket, n_docs, bucket_max,
               CAST(n_docs * bucket_max - sum_len AS BIGINT)
                 AS bucket_waste,
               CAST(n_docs * gmax - sum_len AS BIGINT)
                 AS global_pad_waste,
               CASE WHEN n_docs * gmax - sum_len = 0 THEN 0.0
                    ELSE round(1.0
                               - CAST(n_docs * bucket_max - sum_len
                                      AS DOUBLE)
                                 / CAST(n_docs * gmax - sum_len AS DOUBLE),
                               9)
               END AS saving_ratio
        FROM per CROSS JOIN g""")


def q_packing_efficiency(spark, sf_dir):
    """Sequence-packing efficiency: bucketed shelf packing — the
    distributed closed form of first-fit-decreasing — vs the
    fractional lower bound.  Docs longer than the context C=128 are
    pre-chunked greedily (len div C full bins at zero waste; the
    remainder joins its length bucket), so the semantics are total
    over any length distribution.  Each width-16 length bucket
    packs into shelves holding slots = C div upper docs (upper =
    the bucket's inclusive ceiling), needing
    (n + slots - 1) div slots bins — FFD run shelf-wise, where a
    doc shares a shelf only with docs of its own bucket (the
    classic shelf/harmonic bound, within one bucket-width of true
    FFD).  All counts and wastes are exact int64; the two
    efficiency ratios divide once at the end.  One corpus scan,
    one <=8-row bucket aggregation, the global comparison row a
    1-row broadcast — nothing here grows with the corpus except
    the scan."""
    C, W = 128, 16
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    d = (
        docs.select(
            llm_text.token_count(F.col("text"))
            .cast("bigint")
            .alias("len")
        )
        .filter(F.col("len") > 0)
        .select(
            "len",
            F.expr(f"len div {C}").cast("bigint").alias("full_bins"),
            (F.col("len") % C).cast("bigint").alias("rem"),
        )
    )
    per = (
        d.filter(F.col("rem") > 0)
        .withColumn("bucket", F.expr(f"(rem - 1) div {W}").cast("bigint"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("rem").cast("bigint").alias("sum_len"),
        )
        .withColumn("upper_len", ((F.col("bucket") + 1) * W).cast("bigint"))
        .withColumn(
            "slots_per_bin",
            F.expr(f"{C} div upper_len").cast("bigint"),
        )
        .withColumn(
            "bins",
            F.expr("(n_docs + slots_per_bin - 1) div slots_per_bin")
            .cast("bigint"),
        )
        .withColumn(
            "waste_tokens",
            (F.col("bins") * C - F.col("sum_len")).cast("bigint"),
        )
    )
    shelf = per.agg(F.sum("bins").cast("bigint").alias("_shelf_bins"))
    raw = d.agg(
        F.sum("full_bins").cast("bigint").alias("_full_bins"),
        F.sum("len").cast("bigint").alias("_total_len"),
    )
    g = raw.crossJoin(shelf).select(
        (F.col("_full_bins") + F.col("_shelf_bins"))
        .cast("bigint")
        .alias("_total_bins"),
        F.expr(f"(_total_len + {C} - 1) div {C}")
        .cast("bigint")
        .alias("_lb_bins"),
        "_total_len",
    )
    return per.crossJoin(F.broadcast(g)).select(
        "bucket",
        "upper_len",
        "slots_per_bin",
        "n_docs",
        "sum_len",
        "bins",
        "waste_tokens",
        F.col("_total_bins").alias("total_bins"),
        F.col("_lb_bins").alias("lb_bins"),
        F.round(
            F.col("_total_len").cast("double")
            / (F.col("_total_bins") * C).cast("double"),
            9,
        ).alias("efficiency"),
        F.round(
            F.col("_total_len").cast("double")
            / (F.col("_lb_bins") * C).cast("double"),
            9,
        ).alias("lb_efficiency"),
    )


register("packing_efficiency", q_packing_efficiency, lambda: f"""
        WITH d0 AS (
          SELECT CAST({llm_text.token_count_sql()} AS BIGINT) AS len
          FROM documents WHERE text IS NOT NULL
        ), d AS (
          SELECT len,
                 CAST(len // 128 AS BIGINT) AS full_bins,
                 CAST(len % 128 AS BIGINT) AS rem
          FROM d0 WHERE len > 0
        ), per AS (
          SELECT CAST((rem - 1) // 16 AS BIGINT) AS bucket,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(rem) AS BIGINT) AS sum_len
          FROM d WHERE rem > 0 GROUP BY 1
        ), per2 AS (
          SELECT bucket, n_docs, sum_len,
                 CAST((bucket + 1) * 16 AS BIGINT) AS upper_len,
                 CAST(128 // ((bucket + 1) * 16) AS BIGINT)
                   AS slots_per_bin
          FROM per
        ), per3 AS (
          SELECT bucket, n_docs, sum_len, upper_len, slots_per_bin,
                 CAST((n_docs + slots_per_bin - 1) // slots_per_bin
                      AS BIGINT) AS bins
          FROM per2
        ), g AS (
          SELECT CAST((SELECT sum(bins) FROM per3) + sum(full_bins)
                      AS BIGINT) AS total_bins,
                 CAST((sum(len) + 127) // 128 AS BIGINT) AS lb_bins,
                 CAST(sum(len) AS BIGINT) AS total_len
          FROM d
        )
        SELECT bucket, upper_len, slots_per_bin, n_docs, sum_len, bins,
               CAST(bins * 128 - sum_len AS BIGINT) AS waste_tokens,
               total_bins, lb_bins,
               round(CAST(total_len AS DOUBLE)
                     / CAST(total_bins * 128 AS DOUBLE), 9) AS efficiency,
               round(CAST(total_len AS DOUBLE)
                     / CAST(lb_bins * 128 AS DOUBLE), 9) AS lb_efficiency
        FROM per3 CROSS JOIN g""")


def q_rouge_pairs(spark, sf_dir):
    """ROUGE-1/ROUGE-2 recall/precision/F1 per document pair
    (llm/text.rouge_n) — the n-gram-overlap generation-eval metric
    and the fuzzy-containment decontamination signal.  The pair
    fixture is consecutive doc_ids (a pure equi-join on
    doc_id + 1 — zero windows, zero ranks); production callers
    supply eval pairs keyed by prompt id or LSH candidates.  All
    counts exact int64, one division per ratio."""
    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("ref_id")).join(
        docs.select(
            (F.col("doc_id") - 1).alias("ref_id"),
            F.col("doc_id").alias("cand_id"),
        ),
        on="ref_id",
    )
    return llm_text.rouge_n(pairs, docs)


register("rouge_pairs", q_rouge_pairs, lambda: llm_text.rouge_n_oracle_sql(
    pairs_sql="""
          SELECT a.doc_id AS ref_id, b.doc_id AS cand_id
          FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1"""
))


def q_nb_calibration(spark, sf_dir):
    """Margin-binned calibration of the naive-Bayes language
    classifier: decision margin (top log-score minus runner-up,
    both already 9-digit-rounded and bit-identical across engines)
    bucketed into width-1/4 bands capped at 9, each band's doc
    count and argmax accuracy — the reliability table that decides
    a routing threshold (completes train / score / evaluate /
    CALIBRATE for the classifier loop).  The margin difference,
    the division by the DYADIC band width (exact in IEEE), and
    floor are engine-identical ops on identical inputs; accuracy
    is one division of exact int64 counts."""
    nb = q_nb_lang_scores(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy(
        F.desc("log_score"), F.asc("score_lang")
    )
    per_doc = (
        nb.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 2)
        .groupBy("doc_id")
        .agg(
            F.max(
                F.when(F.col("_rn") == 1, F.col("score_lang"))
            ).alias("pred_lang"),
            F.max(F.when(F.col("_rn") == 1, F.col("log_score"))).alias(
                "_s1"
            ),
            F.max(F.when(F.col("_rn") == 2, F.col("log_score"))).alias(
                "_s2"
            ),
        )
    )
    truth = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    band = F.least(
        F.floor((F.col("_s1") - F.col("_s2")) / F.lit(0.25)),
        F.lit(9).cast("bigint"),
    ).cast("bigint")
    ok = F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
    return (
        per_doc.join(truth, on="doc_id")
        .select(band.alias("margin_band"), ok.alias("_ok"))
        .groupBy("margin_band")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_ok").cast("bigint").alias("n_correct"),
            F.round(
                F.sum("_ok").cast("double")
                / F.count("*").cast("double"),
                9,
            ).alias("accuracy"),
        )
    )


register("nb_calibration", q_nb_calibration, lambda: f"""
        WITH nb AS ({oracle_of("nb_lang_scores")}),
        ranked AS (
          SELECT doc_id, score_lang, log_score,
                 row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY log_score DESC, score_lang
                 ) AS rn
          FROM nb
        ), per_doc AS (
          SELECT doc_id,
                 max(CASE WHEN rn = 1 THEN score_lang END) AS pred_lang,
                 max(CASE WHEN rn = 1 THEN log_score END) AS s1,
                 max(CASE WHEN rn = 2 THEN log_score END) AS s2
          FROM ranked WHERE rn <= 2 GROUP BY doc_id
        ), j AS (
          SELECT CAST(least(floor((p.s1 - p.s2) / 0.25), 9) AS BIGINT)
                   AS margin_band,
                 CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END AS ok
          FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
        )
        SELECT margin_band,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ok) AS BIGINT) AS n_correct,
               round(CAST(sum(ok) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9)
                 AS accuracy
        FROM j GROUP BY margin_band""")


def q_kappa_classifiers(spark, sf_dir):
    """Cohen's kappa agreement between the two language
    classifiers the repo ships — the trained naive-Bayes argmax
    (nb_lang_scores) and the marker-heuristic language_id — the
    inter-rater check that decides whether a cheap heuristic can
    replace the trained model for routing.  The (pred_nb,
    pred_marker) contingency is at most |langs|^2 cells; po, pe,
    and kappa = (N*agree - S) / (N^2 - S) with S = sum of
    row*column marginal products are each ONE division of exact
    int64 operands (the textbook float po/pe subtraction is
    algebraically collapsed so no intermediate float combines)."""
    docs = _t(spark, sf_dir, "documents")
    nb = q_nb_lang_scores(spark, sf_dir)
    w = W.partitionBy("doc_id").orderBy(
        F.desc("log_score"), F.asc("score_lang")
    )
    p1 = (
        nb.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", F.col("score_lang").alias("_p1"))
    )
    p2 = llm_text.language_id(docs).select(
        "doc_id", F.col("lang_pred").alias("_p2")
    )
    # the contingency table is bounded (|langs|^2 cells) but has
    # three consumers (totals, row marginals, column marginals)
    cells = (
        p1.join(p2, on="doc_id")
        .groupBy("_p1", "_p2")
        .agg(F.count("*").cast("bigint").alias("_n"))
        .localCheckpoint(eager=False)
    )
    tot = cells.agg(
        F.sum("_n").cast("bigint").alias("_N"),
        F.sum(
            F.when(F.col("_p1") == F.col("_p2"), F.col("_n")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("_A"),
    )
    rows_m = cells.groupBy("_p1").agg(
        F.sum("_n").cast("bigint").alias("_r")
    )
    cols_m = cells.groupBy("_p2").agg(
        F.sum("_n").cast("bigint").alias("_c")
    )
    s = (
        rows_m.join(cols_m, rows_m._p1 == cols_m._p2)
        .agg(
            F.coalesce(F.sum(F.col("_r") * F.col("_c")), F.lit(0))
            .cast("bigint")
            .alias("_S")
        )
    )
    return tot.crossJoin(F.broadcast(s)).select(
        F.col("_N").alias("n_docs"),
        F.col("_A").alias("n_agree"),
        F.round(
            F.col("_A").cast("double") / F.col("_N").cast("double"), 9
        ).alias("po"),
        F.round(
            F.col("_S").cast("double")
            / (F.col("_N") * F.col("_N")).cast("double"),
            9,
        ).alias("pe"),
        F.round(
            (F.col("_N") * F.col("_A") - F.col("_S")).cast("double")
            / F.nullif(
                (F.col("_N") * F.col("_N") - F.col("_S")).cast(
                    "double"
                ),
                F.lit(0.0),
            ),
            9,
        ).alias("kappa"),
    )


register("kappa_classifiers", q_kappa_classifiers, lambda: f"""
        WITH nb AS ({oracle_of("nb_lang_scores")}),
        p1 AS (
          SELECT doc_id, score_lang AS p1 FROM (
            SELECT doc_id, score_lang,
                   row_number() OVER (
                     PARTITION BY doc_id
                     ORDER BY log_score DESC, score_lang
                   ) AS rn
            FROM nb
          ) WHERE rn = 1
        ), p2 AS (
          SELECT doc_id, lang_pred AS p2 FROM ({oracle_of("language_id")})
        ), cells AS (
          SELECT p1.p1, p2.p2, CAST(count(*) AS BIGINT) AS n
          FROM p1 JOIN p2 USING (doc_id)
          GROUP BY p1.p1, p2.p2
        ), tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS N,
                 CAST(sum(CASE WHEN p1 = p2 THEN n ELSE 0 END) AS BIGINT)
                   AS A
          FROM cells
        ), rm AS (
          SELECT p1 AS l, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY p1
        ), cm AS (
          SELECT p2 AS l, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY p2
        ), sm AS (
          SELECT CAST(coalesce(sum(rm.r * cm.c), 0) AS BIGINT) AS S
          FROM rm JOIN cm ON rm.l = cm.l
        )
        SELECT N AS n_docs, A AS n_agree,
               round(CAST(A AS DOUBLE) / CAST(N AS DOUBLE), 9) AS po,
               round(CAST(S AS DOUBLE) / CAST(N * N AS DOUBLE), 9) AS pe,
               round(CAST(N * A - S AS DOUBLE)
                     / nullif(CAST(N * N - S AS DOUBLE), 0.0), 9) AS kappa
        FROM tot CROSS JOIN sm""")

_ndcg_qt_vals = ", ".join(
    f"({qid}, '{w}')"
    for qid, s in _BM25_QUERIES.items()
    for w in sorted(set(s.split()))
)


def q_ndcg_eval(spark, sf_dir):
    """NDCG@10 of the BM25 ranker per query — the graded-relevance
    ranking metric that completes the retrieval-eval family
    (recall@k, overlap@10, footrule).  Graded relevance = number
    of DISTINCT query terms present in the document (deterministic
    and exact); gains (2^rel - 1) use an integer shift, each
    positional term (gain / log2(rank + 1)) quantizes to integer
    1e-9 units (the bm25 discipline) so the per-query DCG and
    ideal-DCG sums are exact int64 — no float accumulates across
    rows.  The ideal ordering sorts the retrieved set by rel desc
    (tie order cannot change the sum: equal rel at swapped
    positions contribute identical terms), the standard @k
    normalization over the retrieved list.  NDCG divides two exact
    int64 unit sums once."""
    docs = _t(spark, sf_dir, "documents")
    bm = q_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", "rank"
    )
    toks = llm_text._token_rows(docs, "text", "word", "doc_id").distinct()
    qt = spark.createDataFrame(
        [
            (qid, w)
            for qid, s in _BM25_QUERIES.items()
            for w in sorted(set(s.split()))
        ],
        "query_id int, word string",
    )
    rel_tbl = (
        F.broadcast(qt)
        .join(toks, on="word")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("bigint").alias("_rel"))
    )
    scored = bm.join(rel_tbl, on=["query_id", "doc_id"], how="left").select(
        "query_id",
        "doc_id",
        "rank",
        F.coalesce(F.col("_rel"), F.lit(0)).cast("bigint").alias("_rel"),
    )
    # pyspark's shiftleft() only takes a literal bit count — the
    # column-valued shift goes through the SQL expression
    gain = F.expr(
        "CAST(shiftleft(1, CAST(_rel AS INT)) - 1 AS DOUBLE)"
    )
    units = lambda rank_col: F.round(
        gain / F.log2(rank_col.cast("double") + F.lit(1.0)) * 1e9
    ).cast("bigint")
    w_ideal = W.partitionBy("query_id").orderBy(
        F.desc("_rel"), F.asc("doc_id")
    )
    both = scored.withColumn(
        "_irank", F.row_number().over(w_ideal).cast("bigint")
    ).select(
        "query_id",
        units(F.col("rank")).alias("_du"),
        units(F.col("_irank")).alias("_iu"),
    )
    return both.groupBy("query_id").agg(
        F.sum("_du").cast("bigint").alias("dcg_units"),
        F.sum("_iu").cast("bigint").alias("idcg_units"),
        F.round(
            F.sum("_du").cast("double")
            / F.nullif(F.sum("_iu").cast("double"), F.lit(0.0)),
            9,
        ).alias("ndcg"),
    )


register("ndcg_eval", q_ndcg_eval, lambda: f"""
        WITH bm AS (
          SELECT query_id, doc_id, rank FROM ({oracle_of("bm25_topk")})
        ), toks AS ({llm_text._token_rows_sql("DISTINCT doc_id", "word")}),
        qt (query_id, word) AS (VALUES {_ndcg_qt_vals}),
        rel_tbl AS (
          SELECT qt.query_id, toks.doc_id,
                 CAST(count(*) AS BIGINT) AS rel
          FROM qt JOIN toks USING (word)
          GROUP BY qt.query_id, toks.doc_id
        ), scored AS (
          SELECT bm.query_id, bm.doc_id, bm.rank,
                 CAST(coalesce(r.rel, 0) AS BIGINT) AS rel
          FROM bm LEFT JOIN rel_tbl r
            ON r.query_id = bm.query_id AND r.doc_id = bm.doc_id
        ), gains AS (
          SELECT query_id,
                 CAST(round(CAST((1 << rel) - 1 AS DOUBLE)
                            / log2(CAST(rank AS DOUBLE) + 1.0) * 1e9)
                      AS BIGINT) AS du,
                 CAST(round(CAST((1 << rel) - 1 AS DOUBLE)
                            / log2(CAST(irank AS DOUBLE) + 1.0) * 1e9)
                      AS BIGINT) AS iu
          FROM (
            SELECT query_id, doc_id, rank, rel,
                   CAST(row_number() OVER (
                     PARTITION BY query_id ORDER BY rel DESC, doc_id
                   ) AS BIGINT) AS irank
            FROM scored
          )
        )
        SELECT query_id,
               CAST(sum(du) AS BIGINT) AS dcg_units,
               CAST(sum(iu) AS BIGINT) AS idcg_units,
               round(CAST(sum(du) AS DOUBLE)
                     / nullif(CAST(sum(iu) AS DOUBLE), 0.0), 9) AS ndcg
        FROM gains GROUP BY query_id""")


def q_roc_auc_binned(spark, sf_dir):
    """Binned exact ROC-AUC of the NB classifier's en-vs-rest
    decision value — the per-token margin (en log-score minus the
    best other language's, over the en token count; the standard
    one-vs-rest reduction) — the threshold-free discrimination
    metric completing accuracy / confusion / calibration / kappa.
    The score is binned onto a FIXED bounded grid (dyadic width
    1/1024 over [-0.5, 0.5), 1024 bins — the ks_binned discipline:
    at 100 TB the rank-sum over raw distinct scores is unbounded,
    the histogram is not), a pure engine-identical IEEE chain on
    bit-identical inputs (one division per doc).  AUC uses the
    Mann-Whitney histogram form with midrank tie handling, doubled
    to stay integer: 2U = sum over bins of pos(b) *
    (2 * neg_below(b) + neg_at(b)); cumulative neg_below comes
    from a broadcast inequality self-join over the BOUNDED bin
    relation (no single-partition window).  One division at the
    end."""
    nb = q_nb_lang_scores(spark, sf_dir)
    truth = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    per_doc = nb.groupBy("doc_id").agg(
        F.max(
            F.when(F.col("score_lang") == "en", F.col("log_score"))
        ).alias("_sen"),
        F.max(
            F.when(F.col("score_lang") != "en", F.col("log_score"))
        ).alias("_sot"),
        F.max(
            F.when(F.col("score_lang") == "en", F.col("n_tokens"))
        ).alias("_nt"),
    )
    en = per_doc.join(truth, on="doc_id")
    margin = (F.col("_sen") - F.col("_sot")) / F.col("_nt").cast(
        "double"
    )
    bin_ = F.least(
        F.greatest(
            F.floor((margin + F.lit(0.5)) * F.lit(1024.0)), F.lit(0)
        ),
        F.lit(1023),
    ).cast("bigint")
    hist = (
        en.select(
            bin_.alias("_b"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("_p"),
        )
        .groupBy("_b")
        .agg(
            F.sum("_p").cast("bigint").alias("_pos"),
            F.sum(1 - F.col("_p")).cast("bigint").alias("_neg"),
        )
        .localCheckpoint(eager=False)
    )
    below = (
        hist.alias("a")
        .join(
            F.broadcast(
                hist.select(
                    F.col("_b").alias("_b2"), F.col("_neg").alias("_n2")
                )
            ),
            F.col("_b2") < F.col("_b"),
            "left",
        )
        .groupBy("_b", "_pos", "_neg")
        .agg(
            F.coalesce(F.sum("_n2"), F.lit(0))
            .cast("bigint")
            .alias("_nb")
        )
    )
    return below.agg(
        F.sum("_pos").cast("bigint").alias("n_pos"),
        F.sum("_neg").cast("bigint").alias("n_neg"),
        F.sum(F.col("_pos") * (2 * F.col("_nb") + F.col("_neg")))
        .cast("bigint")
        .alias("u2"),
        F.round(
            F.sum(
                F.col("_pos") * (2 * F.col("_nb") + F.col("_neg"))
            ).cast("double")
            / F.nullif(
                (2 * F.sum("_pos") * F.sum("_neg")).cast("double"),
                F.lit(0.0),
            ),
            9,
        ).alias("auc"),
    )


register("roc_auc_binned", q_roc_auc_binned, lambda: f"""
        WITH nb AS ({oracle_of("nb_lang_scores")}),
        per_doc AS (
          SELECT doc_id,
                 max(CASE WHEN score_lang = 'en' THEN log_score END)
                   AS sen,
                 max(CASE WHEN score_lang <> 'en' THEN log_score END)
                   AS sot,
                 max(CASE WHEN score_lang = 'en' THEN n_tokens END) AS nt
          FROM nb GROUP BY doc_id
        ), en AS (
          SELECT p.sen, p.sot, p.nt, d.lang
          FROM per_doc p JOIN documents d USING (doc_id)
        ), h AS (
          SELECT CAST(least(greatest(floor(
                   ((sen - sot) / CAST(nt AS DOUBLE) + 0.5) * 1024.0
                 ), 0), 1023) AS BIGINT) AS b,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS BIGINT) AS pos,
                 CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                      AS BIGINT) AS neg
          FROM en GROUP BY 1
        ), cum AS (
          SELECT a.b, a.pos, a.neg,
                 CAST(coalesce(sum(c.n2), 0) AS BIGINT) AS nbelow
          FROM h a LEFT JOIN (SELECT b AS b2, neg AS n2 FROM h) c
            ON c.b2 < a.b
          GROUP BY a.b, a.pos, a.neg
        )
        SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(neg) AS BIGINT) AS n_neg,
               CAST(sum(pos * (2 * nbelow + neg)) AS BIGINT) AS u2,
               round(CAST(sum(pos * (2 * nbelow + neg)) AS DOUBLE)
                     / nullif(CAST(2 * sum(pos) * sum(neg) AS DOUBLE),
                              0.0), 9) AS auc
        FROM cum""")


def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language — subword pieces per
    whitespace word, the multilingual tokenizer-efficiency metric
    (high fertility = a language pays more sequence length per
    word).  The subword model is a deterministic fixed-4-char
    chunker, ceil(len/4) = (len+3) div 4 pieces per word (the real
    BPE vocab has its own bpe_encode gate; this stand-in varies
    with word length and replays exactly in SQL).  Both counts are
    exact int64 sums over the exploded word stream; one divide per
    language."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = docs.select("lang", F.explode(dedup.tokenize(F.col("text"))).alias("w"))
    pieces = F.floor((F.length("w") + 3) / 4).cast("bigint")
    m = toks.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum(pieces).cast("bigint").alias("n_subwords"),
    )
    return m.select(
        "lang",
        "n_words",
        "n_subwords",
        F.round(
            F.col("n_subwords").cast("double")
            / F.col("n_words").cast("double"),
            9,
        ).alias("fertility"),
    )


register("tokenizer_fertility", q_tokenizer_fertility, lambda: f"""
        WITH toks AS ({llm_text._token_rows_sql("lang")}), m AS (
          SELECT lang,
                 CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum((len(w) + 3) // 4) AS BIGINT) AS n_subwords
          FROM toks GROUP BY lang
        )
        SELECT lang, n_words, n_subwords,
               round(CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE),
                     9) AS fertility
        FROM m""")


def q_ranker_agreement(spark, sf_dir):
    """Retrieval-ranker agreement: per query, overlap@10 between
    the BM25 and RRF-fused top-10 lists plus the Spearman footrule
    (sum |rank difference|) over the shared documents — the
    ranker-drift monitor run whenever a retrieval component
    changes.  Composes two already-gated rankers; counts and rank
    sums are exact int64, one divide for the overlap ratio."""
    bm = q_bm25_topk(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("_rb")
    )
    rf = q_rrf_fusion(spark, sf_dir).select(
        F.col("query_id").alias("_q2"),
        F.col("doc_id").alias("_d2"),
        F.col("rank").alias("_rf"),
    )
    j = bm.join(
        rf,
        (bm.query_id == F.col("_q2")) & (bm.doc_id == F.col("_d2")),
        "inner",
    )
    return j.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_shared"),
        F.round(F.count("*") / 10.0, 9).alias("overlap_at_10"),
        F.sum(F.abs(F.col("_rb") - F.col("_rf")))
        .cast("bigint")
        .alias("footrule"),
    )


register("ranker_agreement", q_ranker_agreement, lambda: f"""
        SELECT b.query_id,
               CAST(count(*) AS BIGINT) AS n_shared,
               round(count(*) / CAST(10 AS DOUBLE), 9) AS overlap_at_10,
               CAST(sum(abs(b.rank - r.rank)) AS BIGINT) AS footrule
        FROM ({oracle_of("bm25_topk")}) b
        JOIN ({oracle_of("rrf_fusion")}) r
          ON r.query_id = b.query_id AND r.doc_id = b.doc_id
        GROUP BY b.query_id""")


def q_tfidf_cosine_capped(spark, sf_dir):
    """The 100-TB arm of tfidf_cosine_pairs: identical sparse
    posting-list cosine, but the df prune composes the relative cut
    with an ABSOLUTE cap (df <= min(5% * N, 256)).  The sf1 scaling
    bench measured the purely-relative cut at exponent 1.58 (38x
    cost for 10x data: df_cap grows with N, so per-term pair
    fan-out grows ~N^2); the absolute cap bounds every posting list
    at 256 regardless of corpus size, making the candidate stream
    linear in the vocabulary.  At the sf0.01/sf0.001 gate scales
    5% * N < 256, so this twin is bit-identical to the uncapped
    reference semantics there — the divergence exists only at the
    scales the cap is for (the minhash_dedup / minhash_dedup_prod
    twin pattern)."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.tfidf_cosine_pairs(
        docs, threshold=0.3, max_df_pct=5, max_df_abs=256
    )


register("tfidf_cosine_capped", q_tfidf_cosine_capped, lambda: llm_text.tfidf_cosine_pairs_oracle_sql(
    threshold=0.3, max_df_pct=5, max_df_abs=256
))


def q_pr_auc_binned(spark, sf_dir):
    """Binned average precision (PR-AUC) of the NB en-vs-rest
    margin — the class-imbalance-honest complement to
    roc_auc_binned, sharing its exact decision value and fixed
    1024-bin dyadic grid.  Sweeping thresholds from the top bin
    down, each bin's step term is the exact rational
    pos_b * TP_b / (P * (TP_b + FP_b)) (delta-recall times
    precision, right-step AP); every term quantizes to integer 1e-9
    units before summing (the ndcg discipline), so no float
    accumulates.  Cumulative TP/FP come from a broadcast inequality
    self-join over the bounded bin relation.  Returns one row
    (n_pos, n_neg, ap_units, pr_auc)."""
    nb = q_nb_lang_scores(spark, sf_dir)
    truth = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    per_doc = nb.groupBy("doc_id").agg(
        F.max(
            F.when(F.col("score_lang") == "en", F.col("log_score"))
        ).alias("_sen"),
        F.max(
            F.when(F.col("score_lang") != "en", F.col("log_score"))
        ).alias("_sot"),
        F.max(
            F.when(F.col("score_lang") == "en", F.col("n_tokens"))
        ).alias("_nt"),
    )
    en = per_doc.join(truth, on="doc_id")
    margin = (F.col("_sen") - F.col("_sot")) / F.col("_nt").cast(
        "double"
    )
    bin_ = F.least(
        F.greatest(
            F.floor((margin + F.lit(0.5)) * F.lit(1024.0)), F.lit(0)
        ),
        F.lit(1023),
    ).cast("bigint")
    hist = (
        en.select(
            bin_.alias("_b"),
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("_p"),
        )
        .groupBy("_b")
        .agg(
            F.sum("_p").cast("bigint").alias("_pos"),
            F.sum(1 - F.col("_p")).cast("bigint").alias("_neg"),
        )
        .localCheckpoint(eager=False)
    )
    tot = hist.agg(
        F.sum("_pos").cast("bigint").alias("_P"),
        F.sum("_neg").cast("bigint").alias("_N"),
    )
    above = (
        hist.alias("a")
        .join(
            F.broadcast(
                hist.select(
                    F.col("_b").alias("_b2"),
                    F.col("_pos").alias("_p2"),
                    F.col("_neg").alias("_n2"),
                )
            ),
            F.col("_b2") >= F.col("_b"),
        )
        .groupBy("_b", "_pos")
        .agg(
            F.sum("_p2").cast("bigint").alias("_tp"),
            F.sum("_n2").cast("bigint").alias("_fp"),
        )
    )
    term = F.round(
        F.lit(1e9)
        * (F.col("_pos") * F.col("_tp")).cast("double")
        / (F.col("_P") * (F.col("_tp") + F.col("_fp"))).cast("double")
    ).cast("bigint")
    return (
        above.crossJoin(F.broadcast(tot))
        .select("_P", "_N", term.alias("_u"))
        .groupBy("_P", "_N")
        .agg(F.sum("_u").cast("bigint").alias("ap_units"))
        .select(
            F.col("_P").alias("n_pos"),
            F.col("_N").alias("n_neg"),
            "ap_units",
            F.round(F.col("ap_units").cast("double") / F.lit(1e9), 9)
            .alias("pr_auc"),
        )
    )


register("pr_auc_binned", q_pr_auc_binned, lambda: f"""
        WITH nb AS ({oracle_of("nb_lang_scores")}),
        per_doc AS (
          SELECT doc_id,
                 max(CASE WHEN score_lang = 'en' THEN log_score END) AS sen,
                 max(CASE WHEN score_lang <> 'en' THEN log_score END) AS sot,
                 max(CASE WHEN score_lang = 'en' THEN n_tokens END) AS nt
          FROM nb GROUP BY doc_id
        ), hist AS (
          SELECT least(greatest(floor(((per_doc.sen - per_doc.sot)
                                       / CAST(nt AS DOUBLE) + 0.5)
                                      * 1024.0), 0), 1023) AS b,
                 CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END)
                      AS BIGINT) AS pos,
                 CAST(sum(CASE WHEN d.lang = 'en' THEN 0 ELSE 1 END)
                      AS BIGINT) AS neg
          FROM per_doc JOIN documents d USING (doc_id)
          GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(pos) AS BIGINT) AS P,
                 CAST(sum(neg) AS BIGINT) AS N
          FROM hist
        ), above AS (
          SELECT a.b, a.pos,
                 CAST(sum(h2.pos) AS BIGINT) AS tp,
                 CAST(sum(h2.neg) AS BIGINT) AS fp
          FROM hist a JOIN hist h2 ON h2.b >= a.b
          GROUP BY a.b, a.pos
        )
        SELECT tot.P AS n_pos, tot.N AS n_neg,
               CAST(sum(CAST(round(1e9 * CAST(pos * tp AS DOUBLE)
                                   / CAST(tot.P * (tp + fp) AS DOUBLE))
                             AS BIGINT)) AS BIGINT) AS ap_units,
               round(CAST(sum(CAST(round(1e9 * CAST(pos * tp AS DOUBLE)
                                         / CAST(tot.P * (tp + fp)
                                                AS DOUBLE)) AS BIGINT))
                          AS DOUBLE) / 1e9, 9) AS pr_auc
        FROM above CROSS JOIN tot
        GROUP BY tot.P, tot.N""")


def q_heavy_ngrams(spark, sf_dir):
    """Exact corpus heavy hitters — 8-grams with count*(k+1) > N,
    k=200 — via a mergeable Misra-Gries summary (llm/sketch
    .misra_gries_heavy; Agarwal et al. PODS'12): one Arrow-batched
    scan builds k-counter summaries per partition (their union is
    a pigeonhole-guaranteed superset of the heavy hitters under
    ANY partitioning), a broadcast semi-join recounts the <=
    32*k candidates exactly.  O(k) task state, no full-vocabulary
    shuffle — the cliche/boilerplate-phrase detector a 100 TB
    text pipeline runs before dedup.  Deterministic exact output;
    the sketch only prunes."""
    from openseize_spark.llm import sketch

    docs = _t(spark, sf_dir, "documents")
    grams = (
        docs.filter(F.col("text").isNotNull())
        .select(dedup.normalize_text(F.col("text")).alias("_txt"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(length(_txt) - 7,"
                    " 0)), i -> substring(_txt, i, 8))"
                )
            ).alias("item")
        )
    )
    return sketch.misra_gries_heavy(grams, "item", k=200)


register("heavy_ngrams", q_heavy_ngrams, lambda: sketch.misra_gries_heavy_oracle_sql(
    inner=fr"""SELECT substring(nt, i, 8) AS item
          FROM (SELECT {dedup.normalize_text_sql()}
                  AS nt FROM documents WHERE text IS NOT NULL) n,
          unnest(generate_series(1, greatest(length(nt) - 7, 0))) AS u(i)""",
    k=200,
))


def q_heaps_law_fit(spark, sf_dir):
    """Heaps'-law vocabulary growth curve + log-log slope
    (llm/text.heaps_law_fit): distinct-word counts at ten
    doc-id-decile corpus prefixes and the least-squares beta of
    ln V ~ alpha + beta ln n — the corpus statistic that justifies
    the TF-IDF absolute-df-cap default (COVERAGE.md has the
    note): discriminative terms keep low df when beta > 0.  No
    global sort (prefix membership is integer threshold
    arithmetic), quantized-ln integer regression moments,
    DECIMAL(38,0)/HUGEINT sums, one final division."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.heaps_law_fit(docs)


register("heaps_law_fit", q_heaps_law_fit, llm_text.heaps_law_fit_oracle_sql)


def q_term_burstiness(spark, sf_dir):
    """Term burstiness (Church & Gale 1995 dispersion): the
    variance-to-mean ratio of per-document counts for the 20
    highest-total terms — bursty terms (VMR >> 1) are content
    words, evenly-sprinkled terms (VMR ~ 1, Poisson-like) are
    function words; a standard corpus-quality / keyword signal.
    Exact integer moments over ALL docs including zero-count ones
    (VMR = (N*S2 - S1^2)/(N*S1), one final double division);
    top-20 by (total DESC, term ASC) is a deterministic bounded
    sort.  ONE scan of the text column: explode_outer keeps
    token-less docs as a null-token row, so the doc count N
    derives from the same per-doc aggregate instead of a second
    full pass over the corpus's widest column (a two-scan shape
    re-reads text just to count rows)."""
    docs = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    tc0 = (
        docs.select(
            "doc_id", F.explode_outer(dedup.tokenize(F.col("text"))).alias("_w")
        )
        .groupBy("doc_id", "_w")
        .agg(F.count("*").cast("bigint").alias("_c"))
        .localCheckpoint(eager=False)  # N + moments consumers
    )
    n = tc0.select("doc_id").distinct().agg(
        F.count("*").cast("bigint").alias("_N")
    )
    tc = tc0.filter(F.col("_w").isNotNull())
    mom = tc.groupBy("_w").agg(
        F.sum("_c").cast("bigint").alias("total"),
        F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias("_s2"),
        F.count("*").cast("bigint").alias("df"),
    )
    return (
        mom.crossJoin(F.broadcast(n))
        .select(
            F.col("_w").alias("term"),
            "total",
            "df",
            # DECIMAL(38,0) before multiplying: total^2 outruns
            # int64 on a big corpus and Spark wraps where DuckDB
            # promotes to HUGEINT (the corr_matrix discipline)
            (
                (
                    F.col("_N").cast("decimal(38,0)") * F.col("_s2")
                    - F.col("total").cast("decimal(38,0)")
                    * F.col("total")
                ).cast("double")
                / (
                    F.col("_N").cast("decimal(38,0)") * F.col("total")
                ).cast("double")
            ).alias("vmr"),
        )
        .orderBy(F.col("total").desc(), "term")
        .limit(20)
    )


register("term_burstiness", q_term_burstiness, lambda: f"""
        WITH n AS (
          SELECT CAST(count(*) AS BIGINT) AS N
          FROM documents WHERE text IS NOT NULL
        ), tc AS ({llm_text._doc_terms_sql(cnt="c")}), mom AS (
          SELECT w AS term,
                 CAST(sum(c) AS BIGINT) AS total,
                 CAST(sum(c * c) AS BIGINT) AS s2,
                 CAST(count(*) AS BIGINT) AS df
          FROM tc GROUP BY w
        )
        SELECT term, total, df,
               CAST(CAST(N AS HUGEINT) * s2
                    - CAST(total AS HUGEINT) * total AS DOUBLE)
                 / CAST(CAST(N AS HUGEINT) * total AS DOUBLE) AS vmr
        FROM mom, n
        ORDER BY total DESC, term ASC
        LIMIT 20
    """)


def q_bpe_learn(spark, sf_dir):
    """First three byte-pair-encoding merges learned from the
    corpus (llm/text.bpe_learn; Sennrich et al. 2016) — the REAL
    iterative BPE trainer: weighted adjacent-pair counts, the
    (count DESC, pair ASC) winner, and a leftmost-non-overlapping
    corpus-wide merge per round, expressed position-based (run
    parity via two per-word windows) so both engines execute the
    identical greedy scan.  Upgrades the one-shot
    `bpe_pair_counts` to the actual training loop; all windows
    partition per word, the winner is a broadcast 1-row table,
    nothing collects."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.bpe_learn(docs, rounds=3)


register("bpe_learn", q_bpe_learn, lambda: llm_text.bpe_learn_oracle_sql(rounds=3))


def q_bpe_apply(spark, sf_dir):
    """Trained-BPE corpus encode (llm/text.bpe_train_encode):
    learn 3 merges with bpe_learn's position/run-parity trainer,
    then encode the SAME corpus with the learned table — the
    train→apply closure, upgrading the static-merge `bpe_encode`
    to trained merges.  The apply phase reuses the
    trainer's final per-word token state (the learned merge list
    applied by the identical leftmost-non-overlapping scan), so
    the encode is one vocab-keyed join + per-doc integer sums —
    no second scan of the corpus."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.bpe_train_encode(docs, rounds=3)


register("bpe_apply", q_bpe_apply, lambda: llm_text.bpe_train_encode_oracle_sql(rounds=3))


def q_kn_perplexity(spark, sf_dir):
    """Per-document perplexity under the corpus-trained
    interpolated Kneser-Ney bigram model (llm/text.kn_perplexity)
    — the train→apply closure for `kneser_ney_bigram`, i.e. the
    LM-based quality filter of a pretraining pipeline.  Same
    model float chain as the sibling; -ln(P) quantized to integer
    nano-units per bigram TYPE before the per-doc sum, so the
    aggregation is pure int64 and partition-invariant; one exp()
    on exact integers per output row (diff_audit notes ~6% of ppl
    values differ at the exp last-ulp, maxabs 3.6e-15 — the
    woe_encode JVM-vs-libm class, far below the 12-sig-digit gate
    normalization; nll_units is bit-exact)."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.kn_perplexity(docs, discount=0.75)


register("kn_perplexity", q_kn_perplexity, lambda: llm_text.kn_perplexity_oracle_sql(discount=0.75))


def q_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (llm/text.rake_keywords; Rose et
    al. 2010): top-3 stopword-free phrases per document by the
    summed deg/freq member-word score, quantized to exact
    integer nano-units so the ranking never compares floats.
    Per-document independent — embarrassingly partition-
    parallel."""
    docs = _t(spark, sf_dir, "documents")
    return llm_text.rake_keywords(docs, k=3)


register("rake_keywords", q_rake_keywords, lambda: llm_text.rake_keywords_oracle_sql(k=3))


def q_term_drift(spark, sf_dir):
    """Top-20 terms by corpus-composition DRIFT between the first
    and second half of the ingestion order (doc_id midpoint) —
    the "did the crawl mix change" monitor a continuously-fed
    training corpus runs next to gram_novelty's saturation
    signal: per half, term rate = round(1e9·k/N_half) nano-units
    (division-derived — IEEE-identical), drift = |rate₁ − rate₂|
    exact int64, top-20 via orderBy().limit() —
    TakeOrderedAndProject, per-partition top-k, never a global
    sort.  Ties break on the term.  Returns (word, k_first,
    k_second, drift_units, rank)."""
    docs = _t(spark, sf_dir, "documents")
    mid = docs.filter(F.col("text").isNotNull()).agg(
        F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi")
    )
    t = (
        docs.filter(F.col("text").isNotNull())
        .crossJoin(F.broadcast(mid))
        .select(
            # first half: doc_id - lo < hi - doc_id (subtraction
            # form, the did_by_type midpoint discipline)
            (
                (F.col("doc_id") - F.col("_lo"))
                < (F.col("_hi") - F.col("doc_id"))
            ).alias("_first"),
            F.explode(dedup.tokenize(F.col("text"))).alias("word"),
        )
        .groupBy("word")
        .agg(
            F.sum(F.when(F.col("_first"), 1).otherwise(0))
            .cast("bigint")
            .alias("k_first"),
            F.sum(F.when(F.col("_first"), 0).otherwise(1))
            .cast("bigint")
            .alias("k_second"),
        )
        .localCheckpoint(eager=False)  # totals + rate consumers
    )
    tot = t.agg(
        F.sum("k_first").cast("bigint").alias("_n1"),
        F.sum("k_second").cast("bigint").alias("_n2"),
    )
    r1 = F.round(
        F.lit(1e9)
        * (F.col("k_first").cast("double") / F.col("_n1").cast("double"))
    ).cast("bigint")
    r2 = F.round(
        F.lit(1e9)
        * (
            F.col("k_second").cast("double")
            / F.col("_n2").cast("double")
        )
    ).cast("bigint")
    scored = t.crossJoin(F.broadcast(tot)).select(
        "word",
        "k_first",
        "k_second",
        F.abs(r1 - r2).alias("drift_units"),
    )
    w = W.orderBy(F.col("drift_units").desc(), F.col("word").asc())
    return (
        scored.orderBy(
            F.col("drift_units").desc(), F.col("word").asc()
        )
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


register("term_drift", q_term_drift, lambda: f"""
        WITH mid AS (
          SELECT min(doc_id) AS lo, max(doc_id) AS hi
          FROM documents WHERE text IS NOT NULL
        ), toks AS (
          SELECT (doc_id - lo) < (hi - doc_id) AS first_half, word
          FROM ({llm_text._token_rows_sql(word="word")}), mid
        ), t AS MATERIALIZED (
          SELECT word,
                 CAST(sum(CASE WHEN first_half THEN 1 ELSE 0 END)
                      AS BIGINT) AS k_first,
                 CAST(sum(CASE WHEN first_half THEN 0 ELSE 1 END)
                      AS BIGINT) AS k_second
          FROM toks GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(k_first) AS BIGINT) AS n1,
                 CAST(sum(k_second) AS BIGINT) AS n2
          FROM t
        ), scored AS (
          SELECT word, k_first, k_second,
                 abs(CAST(round(1e9 * (CAST(k_first AS DOUBLE)
                                       / CAST(n1 AS DOUBLE)))
                          AS BIGINT)
                     - CAST(round(1e9 * (CAST(k_second AS DOUBLE)
                                         / CAST(n2 AS DOUBLE)))
                            AS BIGINT)) AS drift_units
          FROM t, tot
        )
        SELECT word, k_first, k_second,
               CAST(drift_units AS BIGINT) AS drift_units,
               CAST(row_number() OVER (
                 ORDER BY drift_units DESC, word ASC
               ) AS INT) AS rank
        FROM scored
        ORDER BY drift_units DESC, word ASC
        LIMIT 20
    """)


def q_ranking_inversions(spark, sf_dir):
    """Pairwise ranking agreement between the BM25 and TF-IDF
    retrievers (the two rankers rrf_fusion merges): over each
    query's docs ranked by BOTH, count discordant pairs — the
    Kendall-style inter-ranker agreement that tells a hybrid-
    search operator whether fusion is even needed (full agreement
    makes RRF a no-op).  Ranks are exact integers from the fused
    table; the pair scan is bounded at top-k² per query;
    agreement = 1 − 2·inv/pairs is one float chain on exact
    counts.  Returns (query_id, n_common, n_pairs, n_inversions,
    agreement)."""
    docs = _t(spark, sf_dir, "documents")
    r = llm_text.rrf_fusion(docs, queries=_BM25_QUERIES, k=10)
    both = r.filter(
        F.col("rank_bm25").isNotNull()
        & F.col("rank_tfidf").isNotNull()
    ).select(
        "query_id",
        F.col("doc_id").alias("_d"),
        F.col("rank_bm25").alias("_r1"),
        F.col("rank_tfidf").alias("_r2"),
    ).localCheckpoint(eager=False)  # both pair-join sides + count
    b2 = both.select(
        F.col("query_id").alias("_q2"),
        F.col("_d").alias("_d2"),
        F.col("_r1").alias("_r1b"),
        F.col("_r2").alias("_r2b"),
    )
    pairs = both.join(
        F.broadcast(b2),
        (F.col("_q2") == F.col("query_id"))
        & (F.col("_d2") > F.col("_d")),
    )
    inv = pairs.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(
            F.when(
                (F.col("_r1") < F.col("_r1b"))
                != (F.col("_r2") < F.col("_r2b")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_inversions"),
    )
    cnt = both.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_common")
    )
    return cnt.join(inv, on="query_id").select(
        "query_id",
        "n_common",
        "n_pairs",
        "n_inversions",
        (
            F.lit(1.0)
            - F.lit(2.0)
            * (
                F.col("n_inversions").cast("double")
                / F.col("n_pairs").cast("double")
            )
        ).alias("agreement"),
    )


register("ranking_inversions", q_ranking_inversions, lambda: """
        WITH r AS MATERIALIZED (
        """
    + llm_text.rrf_fusion_oracle_sql(queries=_BM25_QUERIES, k=10)
    + """
        ), bb AS MATERIALIZED (
          SELECT query_id, doc_id AS d, rank_bm25 AS r1,
                 rank_tfidf AS r2
          FROM r
          WHERE rank_bm25 IS NOT NULL AND rank_tfidf IS NOT NULL
        ), inv AS (
          SELECT a.query_id,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(CASE WHEN (a.r1 < b.r1) != (a.r2 < b.r2)
                          THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_inversions
          FROM bb a JOIN bb b ON b.query_id = a.query_id
                                 AND b.d > a.d
          GROUP BY 1
        ), cnt AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_common
          FROM bb GROUP BY 1
        )
        SELECT cnt.query_id, cnt.n_common, inv.n_pairs,
               inv.n_inversions,
               1.0 - 2.0 * (CAST(inv.n_inversions AS DOUBLE)
                            / CAST(inv.n_pairs AS DOUBLE)) AS agreement
        FROM cnt JOIN inv USING (query_id)
    """)


def q_snippet_extract(spark, sf_dir):
    """Best-passage extraction for the BM25 top-3 documents per
    query — the snippet generator of a search stack: over each
    (query, doc), the 10-token window starting at a query-term
    position that contains the MOST query-term occurrences
    (ties: earliest start).  Window counting is a bounded band
    self-join over the query-term POSITIONS only (never all
    tokens): positions come from one posexplode over just the
    ≤ 3·|queries| ranked documents (broadcast semi-join before
    the explode — the full corpus is never tokenized here), and
    the per-window count is exact int64 with a struct-min argmax.
    Returns (query_id, doc_id, rank, best_start, n_in_window)."""
    docs = _t(spark, sf_dir, "documents")
    ranked = llm_text.bm25_topk(
        docs, queries=_BM25_QUERIES, k=3
    ).select("query_id", "doc_id", "rank")
    rdocs = ranked.select("doc_id").distinct()
    toks = docs.join(F.broadcast(rdocs), on="doc_id").select(
        "doc_id", F.posexplode(dedup.tokenize(F.col("text"))).alias("_pos", "word")
    )
    qrows = [
        (int(qid), w)
        for qid, text in _BM25_QUERIES.items()
        for w in dict.fromkeys(text.lower().split())
    ]
    qt = spark.createDataFrame(qrows, "query_id long, word string")
    qp = (
        toks.join(F.broadcast(qt), on="word")
        .join(F.broadcast(ranked), on=["query_id", "doc_id"])
        .select(
            "query_id",
            "doc_id",
            "rank",
            F.col("_pos").cast("bigint").alias("_p"),
        )
        .localCheckpoint(eager=False)  # both band-join sides
    )
    qp2 = qp.select(
        F.col("query_id").alias("_q2"),
        F.col("doc_id").alias("_d2"),
        F.col("_p").alias("_p2"),
    )
    win = (
        qp.join(
            F.broadcast(qp2),
            (F.col("_q2") == F.col("query_id"))
            & (F.col("_d2") == F.col("doc_id"))
            & (F.col("_p2") >= F.col("_p"))
            & (F.col("_p2") <= F.col("_p") + 9),
        )
        .groupBy("query_id", "doc_id", "rank", "_p")
        .agg(F.count("*").cast("bigint").alias("_k"))
    )
    best = win.groupBy("query_id", "doc_id", "rank").agg(
        F.min(
            F.struct(
                (-F.col("_k")).alias("_nk"),
                F.col("_p").alias("best_start"),
            )
        ).alias("_b")
    )
    return best.select(
        "query_id",
        "doc_id",
        "rank",
        F.col("_b.best_start").alias("best_start"),
        (-F.col("_b._nk")).cast("bigint").alias("n_in_window"),
    )


register("snippet_extract", q_snippet_extract, lambda: """
        WITH bm AS MATERIALIZED (
        """
    + llm_text.bm25_topk_oracle_sql(queries=_BM25_QUERIES, k=3)
    + f"""
        ), toks AS (
          SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS p,
                 list_extract(wl, u.i) AS word
          FROM (
            SELECT doc_id,
                   {dedup.tokenize_sql()} AS wl
            FROM documents
            WHERE text IS NOT NULL
              AND doc_id IN (SELECT doc_id FROM bm)
          ), unnest(range(1, len(wl) + 1)) AS u(i)
        ), qt (query_id, word) AS (VALUES """
    + ", ".join(
        f"({int(qid)}, '{w}')"
        for qid, text in _BM25_QUERIES.items()
        for w in dict.fromkeys(text.lower().split())
    )
    + """
        ), qp AS MATERIALIZED (
          SELECT bm.query_id, toks.doc_id, bm.rank, toks.p
          FROM toks
          JOIN qt USING (word)
          JOIN bm ON bm.query_id = qt.query_id
                 AND bm.doc_id = toks.doc_id
        ), win AS (
          SELECT a.query_id, a.doc_id, a.rank, a.p,
                 CAST(count(*) AS BIGINT) AS k
          FROM qp a JOIN qp b ON b.query_id = a.query_id
                             AND b.doc_id = a.doc_id
                             AND b.p BETWEEN a.p AND a.p + 9
          GROUP BY 1, 2, 3, 4
        )
        SELECT query_id, doc_id, rank, p AS best_start,
               k AS n_in_window
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id, doc_id
                   ORDER BY k DESC, p ASC
                 ) AS rn
          FROM win
        ) WHERE rn = 1
    """)

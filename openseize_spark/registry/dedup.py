"""Near-duplicate detection and decontamination over ``documents``:
exact, MinHash/LSH, SimHash, Bloom, n-gram and substring paths.
"""

from __future__ import annotations

from pyspark.sql import functions as F, Window as W

from openseize_spark.llm import dedup, sampling, text as llm_text

from openseize_spark.registry import oracle_of, register
from openseize_spark.registry.common import _t


def q_minhash_estimate(spark, sf_dir):
    """Estimator-quality audit: for every LSH candidate pair, the
    MinHash Jaccard ESTIMATE (matching signature slots / 64) next
    to the EXACT shingle Jaccard — the calibration table that
    justifies the banding thresholds the dedup pipeline runs with.
    Signature compare is a zip_with/aggregate over the two 64-slot
    arrays (codegen); exact Jaccard reuses the verify path with the
    threshold disabled."""
    docs = _t(spark, sf_dir, "documents")
    # three consumers (LSH candidate build + both signature-join
    # sides) — checkpoint or the dominant shingle-explode + 64-min
    # signature pass re-runs per consumer (cf. jaccard_verify)
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    ).localCheckpoint(eager=False)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    exact = dedup.jaccard_verify(docs, cand, k=5, threshold=0.0)
    sa = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("_sa"))
    sb = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("_sb"))
    est = (
        cand.join(sa, on="a")
        .join(sb, on="b")
        .select(
            "a",
            "b",
            F.aggregate(
                F.zip_with(
                    "_sa",
                    "_sb",
                    lambda x, y: F.when(x == y, 1).otherwise(0),
                ),
                F.lit(0),
                lambda acc, v: acc + v,
            )
            .cast("bigint")
            .alias("est_matches"),
        )
    )
    return est.join(exact, on=["a", "b"]).select(
        "a",
        "b",
        "est_matches",
        F.round(F.col("est_matches") / 64.0, 9).alias("jaccard_est"),
        F.round("jaccard", 9).alias("jaccard_exact"),
    )


register("minhash_estimate", q_minhash_estimate, lambda: dedup.minhash_estimate_oracle_sql(
    k=5, num_hashes=64, bands=8
))


def q_dedup_rate_by_source(spark, sf_dir):
    """Per-source duplication dashboard: how many documents each
    source contributes vs how many distinct normalized texts —
    the rate that decides which feeds need aggressive dedup.  One
    scan, two-level aggregation on the (source, fingerprint) key
    (hot sources shatter in stage 1, cf. skew_distinct_users)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    from openseize_spark.llm.dedup import normalize_text

    fp = F.md5(normalize_text(F.col("text")))
    pairs = docs.groupBy("source", fp.alias("_fp")).agg(
        F.count("*").alias("_n")
    )
    return pairs.groupBy("source").agg(
        F.sum("_n").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.round(
            F.lit(1.0)
            - F.count("*").cast("double") / F.sum("_n").cast("double"),
            9,
        ).alias("dup_rate"),
    )


register("dedup_rate_by_source", q_dedup_rate_by_source, lambda: f"""
        WITH pairs AS (
          SELECT source,
                 md5({dedup.normalize_text_sql()})
                   AS fp,
                 count(*) AS n
          FROM documents WHERE text IS NOT NULL
          GROUP BY source, fp
        )
        SELECT source,
               CAST(sum(n) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_distinct,
               round(CAST(1.0 AS DOUBLE)
                     - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE),
                     9) AS dup_rate
        FROM pairs GROUP BY source
    """)


def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = dedup.exact_dedup(docs)
    return out.select("doc_id", "dup_count")


register("dedup_exact", q_dedup_exact, lambda: f"""
            WITH fp AS (
              SELECT doc_id,
                     md5({dedup.normalize_text_sql()}) AS f
              FROM documents
            )
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM fp GROUP BY f
        """)


def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    d = docs.select("doc_id", "lang")
    pairs = (
        d.withColumnRenamed("doc_id", "a")
        .join(d.withColumnRenamed("doc_id", "b"), on="lang")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return dedup.jaccard_verify(docs, pairs, k=5, threshold=0.25)


register("ngram_jaccard", q_ngram_jaccard, lambda: f"""
            WITH norm AS (
              SELECT doc_id, lang,
                     {dedup.normalize_text_sql()} AS nt
              FROM documents WHERE doc_id < 80
            ), sh AS (
              SELECT DISTINCT doc_id, substring(nt, i, 5) AS s
              FROM norm, unnest(generate_series(1, greatest(length(nt) - 4, 1))) AS u(i)
            ), sz AS (
              SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
            ), pairs AS (
              SELECT x.doc_id AS a, y.doc_id AS b
              FROM norm x JOIN norm y ON x.lang = y.lang AND x.doc_id < y.doc_id
            ), inter AS (
              SELECT p.a, p.b, count(*) AS i
              FROM pairs p
              JOIN sh sa ON sa.doc_id = p.a
              JOIN sh sb ON sb.doc_id = p.b AND sa.s = sb.s
              GROUP BY p.a, p.b
            )
            SELECT i.a, i.b, CAST(i AS DOUBLE) / (za.n + zb.n - i) AS jaccard
            FROM inter i
            JOIN sz za ON za.doc_id = i.a
            JOIN sz zb ON zb.doc_id = i.b
            WHERE CAST(i AS DOUBLE) / (za.n + zb.n - i) >= 0.25
        """)


def q_lev_verify(spark, sf_dir):
    """Edit-distance candidate verification (llm/dedup.py
    levenshtein_verify): normalized Levenshtein similarity over
    ASCII-projected 500-char prefixes on bounded same-(lang,
    source) candidate pairs — the character-level alternative to
    shingle Jaccard that catches in-place edits."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    d = docs.select("doc_id", "lang", "source")
    pairs = (
        d.withColumnRenamed("doc_id", "a")
        .join(
            d.withColumnRenamed("doc_id", "b"), on=["lang", "source"]
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return dedup.levenshtein_verify(
        docs, pairs, threshold=0.3, prefix_chars=500
    )


register("lev_verify", q_lev_verify, lambda: f"""
            WITH d AS (
              SELECT doc_id, lang, source,
                     substr(
                       regexp_replace(
                         {dedup.normalize_text_sql()},
                         '[^\\x20-\\x7e]', '', 'g'),
                       1, 500) AS t
              FROM documents WHERE doc_id < 120 AND text IS NOT NULL
            )
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev,
                   round(1 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
                           / greatest(len(a.t), len(b.t), 1), 9) AS sim
            FROM d a JOIN d b
              ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id < b.doc_id
            WHERE round(1 - CAST(levenshtein(a.t, b.t) AS DOUBLE)
                    / greatest(len(a.t), len(b.t), 1), 9)
                  >= CAST(0.3 AS DOUBLE)
        """)


def q_minhash_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup(
        docs, k=5, num_hashes=64, bands=8, threshold=0.8, portable=True
    ).select("doc_id", "lang", "source")


register("minhash_dedup", q_minhash_dedup, lambda: dedup.minhash_dedup_oracle_sql(
    k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_dedup_clusters(spark, sf_dir):
    # exact single-linkage near-dup clusters: verified LSH pairs ->
    # iterative connected components (min-label propagation)
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    # LSH pairs are structurally a < b: skip the self-pair pass
    cc = dedup.connected_components(
        dup.select("a", "b"), include_self_pairs=False
    )
    return cc.select(F.col("id").alias("doc_id"), "component")


register("dedup_clusters", q_dedup_clusters, lambda: dedup.dedup_clusters_oracle_sql(
    k=5, num_hashes=64, bands=8, threshold=0.8
))


def q_canonical_docs(spark, sf_dir):
    """Canonical-document selection: after near-dup clustering, keep
    the best-quality member of each cluster (ties to the lowest id) —
    the step real dedup pipelines run after connected components.
    Composes the LSH->verify->CC chain with the quality scorer; the
    argmax is a rank window partitioned on the component key."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    cc = dedup.connected_components(
        dup.select("a", "b"), include_self_pairs=False
    ).select(F.col("id").alias("doc_id"), "component")
    qual = llm_text.quality_score(docs)
    j = cc.join(qual, on="doc_id")
    wo = W.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    wp = W.partitionBy("component")
    return (
        j.withColumn("rn", F.row_number().over(wo))
        .withColumn("n_members", F.count("*").over(wp).cast("bigint"))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("canonical_id"),
            F.col("quality").alias("best_quality"),
            "n_members",
        )
    )


# canonical-doc selection: the cluster replay (WITH RECURSIVE inside a
# derived table) joined to the quality replay, argmax via rank window
register("canonical_docs", q_canonical_docs, lambda: f"""
        WITH cc AS (SELECT * FROM ({oracle_of("dedup_clusters")})),
        q AS ({oracle_of("quality_score")}),
        sel AS (
          SELECT cc.component, cc.doc_id, q.quality,
                 row_number() OVER (
                   PARTITION BY cc.component
                   ORDER BY q.quality DESC, cc.doc_id ASC
                 ) AS rn,
                 count(*) OVER (PARTITION BY cc.component) AS nm
          FROM cc JOIN q USING (doc_id)
        )
        SELECT component, doc_id AS canonical_id,
               quality AS best_quality, CAST(nm AS BIGINT) AS n_members
        FROM sel WHERE rn = 1""")


def q_snapshot_diff(spark, sf_dir):
    """CDC corpus diff (llm/dedup.py snapshot_diff): snapshot B is a
    deterministic mutation of documents (drop id%10==0, revise
    id%7==0, add id%13==0 under shifted ids); classify via one full
    outer fingerprint join."""
    docs = _t(spark, sf_dir, "documents")
    revised = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" revised"))
    ).otherwise(F.col("text"))
    b = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select("doc_id", revised.alias("text"))
        .unionAll(
            docs.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"), "text"
            )
        )
    )
    return dedup.snapshot_diff(docs, b)


register("snapshot_diff", q_snapshot_diff, lambda: f"""
        WITH b AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN text || ' revised'
                      ELSE text END AS text
          FROM documents WHERE doc_id % 10 != 0
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text
          FROM documents WHERE doc_id % 13 = 0
        ), fa AS (
          SELECT doc_id,
                 md5({dedup.normalize_text_sql()}) AS f
          FROM documents
        ), fb AS (
          SELECT doc_id,
                 md5({dedup.normalize_text_sql()}) AS f
          FROM b
        )
        SELECT COALESCE(fa.doc_id, fb.doc_id) AS doc_id,
               CASE WHEN fa.f IS NULL THEN 'added'
                    WHEN fb.f IS NULL THEN 'deleted'
                    WHEN fa.f != fb.f THEN 'modified' END AS status
        FROM fa FULL JOIN fb ON fa.doc_id = fb.doc_id
        WHERE (CASE WHEN fa.f IS NULL THEN 'added'
                    WHEN fb.f IS NULL THEN 'deleted'
                    WHEN fa.f != fb.f THEN 'modified' END) IS NOT NULL""")


def q_minhash_sigs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    return sigs.select("doc_id", F.posexplode("sig").alias("j", "h"))


register("minhash_sigs", q_minhash_sigs, lambda: dedup.minhash_signatures_oracle_sql(k=5, num_hashes=64))


def q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash(docs, portable=True)


register("simhash", q_simhash, lambda: dedup.simhash_oracle_sql(bits=32))


def q_simhash_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, max_hamming=6, portable=True)


register("simhash_pairs", q_simhash_pairs, lambda: dedup.simhash_pairs_oracle_sql(max_hamming=6, bits=32))


def q_minhash_dedup_prod(spark, sf_dir):
    # production configuration: murmur3 shingle hash (JVM codegen)
    # instead of the md5-based portable hash that exists only so the
    # DuckDB oracle can replay the pipeline.  Same plan shape as the
    # oracled `minhash_dedup`; this is the variant bench.py times.
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_dedup(
        docs, k=5, num_hashes=64, bands=8, threshold=0.8, portable=False
    ).select("doc_id", "lang", "source")


register("minhash_dedup_prod", q_minhash_dedup_prod, None)


def q_decontaminate(spark, sf_dir):
    """Exact test-set decontamination: a benchmark carved from the
    corpus (doc_id % 7 == 0) is removed from the rest by a broadcast
    anti join on the normalized-text md5 fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return dedup.decontaminate(corpus, bench).select(
        "doc_id", "lang", "source"
    )


# decontaminate: NOT EXISTS over the same md5 fingerprint carve-out
register("decontaminate", q_decontaminate, lambda: f"""
        WITH bench AS (
          SELECT DISTINCT md5({dedup.normalize_text_sql()})
            AS bfp
          FROM documents WHERE doc_id % 7 = 0
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id % 7 <> 0
          AND NOT EXISTS (
            SELECT 1 FROM bench b
            WHERE b.bfp = md5({dedup.normalize_text_sql("d.text")})
          )""")


def q_decontaminate_ngram(spark, sf_dir):
    """GPT-3-style n-gram decontamination (llm/dedup.py
    ngram_decontaminate): the benchmark carve (doc_id % 7 == 0)
    contributes its distinct normalized word 8-gram fingerprints
    (broadcast); any remaining document sharing one is dropped.
    Catches partial containment the exact-fingerprint
    `decontaminate` misses."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return dedup.ngram_decontaminate(corpus, bench, n=8).select(
        "doc_id", "lang", "source"
    )


# decontaminate_ngram: same normalization/split as the engine; DuckDB
# list slices are 1-based inclusive so w[i : i+n-1] is the n-gram
register("decontaminate_ngram", q_decontaminate_ngram, lambda: fr"""
        WITH norm AS (
          SELECT doc_id,
                 string_split({dedup.normalize_text_sql()}, ' ') AS w
          FROM documents WHERE text IS NOT NULL
        ), bgrams AS (
          SELECT DISTINCT md5(array_to_string(w[u.i : u.i + 7], ' ')) AS g
          FROM norm, unnest(generate_series(1, len(w) - 7)) AS u(i)
          WHERE doc_id % 7 = 0
        ), cont AS (
          SELECT DISTINCT n2.doc_id
          FROM norm n2, unnest(generate_series(1, len(n2.w) - 7)) AS u(i)
          WHERE n2.doc_id % 7 != 0
            AND md5(array_to_string(n2.w[u.i : u.i + 7], ' '))
                  IN (SELECT g FROM bgrams)
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d
        WHERE d.doc_id % 7 != 0
          AND d.doc_id NOT IN (SELECT doc_id FROM cont)""")


def q_chunk_dedup(spark, sf_dir):
    """CCNet-style cross-document span dedup (llm/dedup.py
    chunk_dedup): tumbling 10-word chunks, chunks appearing in >1
    distinct documents dropped corpus-wide, documents reassembled
    from survivors in order."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.chunk_dedup(docs, chunk_words=10, max_docs=1)


register("chunk_dedup", q_chunk_dedup, lambda: dedup.chunk_dedup_oracle_sql(chunk_words=10, max_docs=1))


def q_dup_span_detect(spark, sf_dir):
    """Cross-document span-duplication diagnostic (llm/dedup.py
    dup_span_detect): per-doc fraction of word 8-gram occurrences
    shared with another document."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dup_span_detect(docs, n=8)


register("dup_span_detect", q_dup_span_detect, lambda: dedup.dup_span_detect_oracle_sql(n=8))


def q_source_overlap(spark, sf_dir):
    """Pairwise cross-source gram-overlap matrix (llm/dedup.py
    source_overlap): shared distinct word-8-gram fingerprints and
    Jaccard per source pair — "which subcorpora copy from each
    other".  Output bounded by C(n_sources, 2)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.source_overlap(docs, n=8)


register("source_overlap", q_source_overlap, lambda: dedup.source_overlap_oracle_sql(n=8))

# corpus_pipeline: the composed stages replayed as a CTE chain —
# the quality CTE is the standalone quality_score oracle verbatim,
# the split edges are the same int(acc * 2^32) literals Python
# computes inside split_assign
_cp_acc = 0.8
_cp_e1 = int(_cp_acc * (1 << 32))
_cp_e2 = int((_cp_acc + 0.1) * (1 << 32))
_cp_h = sampling.salted_hash_sql("k.doc_id", "split")


def q_corpus_pipeline(spark, sf_dir):
    """End-to-end corpus preparation composed from oracled pieces:
    exact dedup -> quality filter (same quality_expr as the
    standalone scorer) -> hash split assignment -> per-split stats.
    Every stage is a driver-gated operator on its own; this query
    pins the COMPOSITION (the common failure mode being column
    collisions / re-computed nondeterminism between stages)."""
    docs = _t(spark, sf_dir, "documents")
    surv = dedup.exact_dedup(docs)
    # bind_once: in a FILTER predicate codegen's subexpression
    # elimination does not cover the repeated normalize chain
    # (1.93 s -> 0.62 s on this corpus at sf0.1)
    filt = surv.filter(llm_text.quality_expr("text", bind_once=True) >= 0.5)
    split = sampling.split_assign(
        filt, {"train": 0.8, "val": 0.1, "test": 0.1}, seed="split"
    )
    return split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


register("corpus_pipeline", q_corpus_pipeline, lambda: f"""
        WITH q AS ({oracle_of("quality_score")}),
        fp AS (
          SELECT doc_id,
                 md5({dedup.normalize_text_sql()}) AS f
          FROM documents
        ), surv AS (
          SELECT min(doc_id) AS doc_id FROM fp GROUP BY f
        ), kept AS (
          SELECT d.doc_id, d.n_chars
          FROM documents d JOIN surv USING (doc_id) JOIN q USING (doc_id)
          WHERE q.quality >= 0.5
        ), lab AS (
          SELECT k.doc_id, k.n_chars,
                 CASE WHEN {_cp_h} < {_cp_e1} THEN 'train'
                      WHEN {_cp_h} < {_cp_e2} THEN 'val'
                      ELSE 'test' END AS split
          FROM kept k
        )
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM lab GROUP BY split""")


def q_bloom_decontaminate(spark, sf_dir):
    """Sketch-based decontamination screen (llm/dedup.py
    bloom_decontaminate): a 2^16-bit k=3 Bloom filter built from
    the benchmark fingerprints (doc_id % 7 == 0, the same split as
    the exact `decontaminate` gate) probed by the corpus — per
    source, documents total vs flagged-as-possibly-contaminated.
    False negatives are impossible by construction, so the flagged
    subset is a safe prefilter for the exact confirmation join."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", "source", "text"
    )
    flagged = dedup.bloom_decontaminate(corpus, bench)
    return flagged.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col("bloom_hit").cast("bigint")).cast("bigint").alias(
            "n_flagged"
        ),
    )


register("bloom_decontaminate", q_bloom_decontaminate, lambda: dedup.bloom_decontaminate_oracle_sql(
    bench_pred="doc_id % 7 = 0", corpus_pred="doc_id % 7 <> 0"
))

_mix_h = sampling.salted_hash_sql("d.doc_id", "mix6")
_HS = sampling.HASH_SPACE


def q_mixture_pipeline(spark, sf_dir):
    """Composed mixture realization: Bloom decontamination
    screen (drop every possible benchmark member — sound because the
    filter has no false negatives) -> fractional epoch repetition ->
    per-source mixture stats.  Pins the cross-operator composition
    (column collisions, re-computed nondeterminism between stages)
    the same way corpus_pipeline does for its stages."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", "source", "text"
    )
    screened = (
        dedup.bloom_decontaminate(corpus, bench)
        .filter(~F.col("bloom_hit"))
        .select("doc_id", "source")
    )
    rep = sampling.epoch_repeat(
        screened, {"src0": 2.0, "src1": 1.5, "src2": 0.25}, seed="mix6"
    )
    return rep.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.max("epoch").cast("bigint").alias("max_epoch"),
    )


register("mixture_pipeline", q_mixture_pipeline, lambda: f"""
        WITH {dedup.bloom_flags_ctes("doc_id % 7 = 0", "doc_id % 7 <> 0")},
        screened AS (
          SELECT doc_id, source FROM flags WHERE NOT bloom_hit
        ), withcopies AS (
          SELECT doc_id, source,
                 (CASE WHEN source = 'src0' THEN 2
                       WHEN source = 'src1' THEN 1
                       WHEN source = 'src2' THEN 0
                       ELSE 1 END
                  + CASE WHEN {_mix_h} <
                           (CASE WHEN source = 'src1' THEN {_HS // 2}
                                 WHEN source = 'src2' THEN {_HS // 4}
                                 ELSE 0 END)
                         THEN 1 ELSE 0 END) AS copies
          FROM screened d
        ), rep AS (
          SELECT doc_id, source, g.epoch FROM withcopies,
            LATERAL (SELECT CAST(unnest(generate_series(1, copies)) AS BIGINT)
                     AS epoch) g
          WHERE copies > 0
        )
        SELECT source,
               count(*) AS n_rows,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(max(epoch) AS BIGINT) AS max_epoch
        FROM rep GROUP BY source""")


def q_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood candidate pairs (llm/dedup.py
    sorted_neighborhood_pairs): rows within rank distance 3 of each
    other in normalized-prefix sort order — the third blocking
    family beside MinHash-LSH banding and SimHash bit sampling.
    Global rank via ordered prefix buckets + broadcast offsets (no
    SinglePartition window); neighbors via rank-offset equi-joins."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.sorted_neighborhood_pairs(docs, window=4, key_len=12)


register("sorted_neighborhood", q_sorted_neighborhood, lambda: dedup.sorted_neighborhood_oracle_sql(
    window=4, key_len=12
))


def q_er_pipeline(spark, sf_dir):
    """Multi-blocking entity resolution: candidate pairs from all
    THREE blocking families (MinHash-LSH banding ∪ SimHash
    pigeonhole ∪ sorted-neighborhood) verified by exact shingle
    Jaccard, clustered by connected components — the standard ER
    recipe where each blocker covers near-dups the others miss
    (shingle drift vs bit drift vs shared prefixes).  Union-ing
    candidate GENERATORS is cheap (each is bounded); only the
    union reaches the expensive verify."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    lsh = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True).select("a", "b")
    sim = dedup.simhash_pairs(docs, max_hamming=6, portable=True).select("a", "b")
    snm = dedup.sorted_neighborhood_pairs(docs, window=4, key_len=12).select(
        "a", "b"
    )
    cand = lsh.union(sim).union(snm).distinct()
    # The verify result has exactly ONE consumer here: the canonical
    # edge build inside connected_components, which materializes via
    # its own lazy localCheckpoint on the first in-call action (the
    # returned component plan reads the final round's checkpoint,
    # never the verify output, with include_self_pairs=False), so
    # the verify output needs no materialization of its own.  The
    # verify call checkpoints its candidates eagerly, once.
    dup = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    cc = dedup.connected_components(
        dup.select("a", "b"), include_self_pairs=False
    )
    return cc.groupBy("component").agg(
        F.count("*").cast("bigint").alias("n_nodes")
    )


register("er_pipeline", q_er_pipeline, dedup.er_pipeline_oracle_sql)


def q_blocking_yield(spark, sf_dir):
    """Blocking-strategy diagnostics: per candidate-generation
    family (LSH banding / SimHash pigeonhole / sorted
    neighborhood), the candidate count, how many candidates the
    exact-Jaccard verify confirms, and the yield — the
    precision-per-cost table an ER pipeline is tuned with.  The
    expensive verify runs ONCE over the union; per-family counts
    are semi-joins of each (bounded) candidate set against the
    verified pairs."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    fams = {
        "lsh": dedup.minhash_lsh_pairs(sigs, bands=8, portable=True).select(
            "a", "b"
        ),
        "simhash": dedup.simhash_pairs(
            docs, max_hamming=6, portable=True
        ).select("a", "b"),
        "snm": dedup.sorted_neighborhood_pairs(
            docs, window=4, key_len=12
        ).select("a", "b"),
    }
    tagged = None
    for name, df in fams.items():
        t = df.withColumn("family", F.lit(name))
        tagged = t if tagged is None else tagged.union(t)
    # two consumers: the verify's eager candidate checkpoint fills
    # this one and the per-family join reads it in the returned plan
    tagged = tagged.localCheckpoint(eager=False)
    vp = dedup.jaccard_verify(
        docs, tagged.select("a", "b").distinct(), k=5, threshold=0.8
    ).select("a", "b", F.lit(1).alias("_v"))
    return (
        tagged.join(vp, on=["a", "b"], how="left")
        .groupBy("family")
        .agg(
            F.count("*").cast("bigint").alias("n_candidates"),
            F.sum(F.coalesce(F.col("_v"), F.lit(0)))
            .cast("bigint")
            .alias("n_verified"),
        )
        .withColumn(
            "yield",
            F.round(
                F.col("n_verified").cast("double") / F.col("n_candidates"), 9
            ),
        )
    )


register("blocking_yield", q_blocking_yield, dedup.blocking_yield_oracle_sql)


def q_minhash_containment(spark, sf_dir):
    """Directed containment over LSH candidates (llm/dedup.py
    containment_verify): exact shingle-set sizes and |A∩B|/|A|,
    |A∩B|/|B| per candidate pair — the asymmetric quote/subset
    signal Jaccard misses.  Candidates come from the portable-hash
    MinHash banding (same chain the minhash_dedup oracle replays);
    ratios are single exact-int64 divides."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    return dedup.containment_verify(docs, cand, k=5)


register("minhash_containment", q_minhash_containment, lambda: dedup.containment_verify_oracle_sql(k=5))


def q_lsh_recall(spark, sf_dir):
    """LSH banding evaluation: recall and precision of the MinHash
    candidate pipeline against the EXACT near-dup truth (all pairs
    with shingle Jaccard >= 0.8).  Truth pairs come from the
    shingle equi-join (pairs sharing zero shingles cannot pass the
    threshold, so no all-pairs product exists); candidates are the
    usual banding pairs.  One summary row — the tuning harness that
    justifies a band/row configuration before a corpus-wide run;
    at production scale the truth side runs on a sampled stratum.
    Counts are exact int64; the two ratios divide once."""
    docs = _t(spark, sf_dir, "documents")
    norm = dedup.normalize_text(F.col("text"))
    sh = (
        docs.filter(F.col("text").isNotNull())
        .select(F.col("doc_id"), norm.alias("_txt"))
        .withColumn("s", F.explode(dedup._shingle_expr(F.col("_txt"), 5)))
        .select("doc_id", "s")
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("nsz"))
    a = sh.select(F.col("doc_id").alias("a"), "s")
    b = sh.select(F.col("doc_id").alias("b"), "s")
    inter = (
        a.join(b, on="s")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("i"))
    )
    truth = (
        inter.join(sz.withColumnRenamed("doc_id", "a").withColumnRenamed("nsz", "na"), on="a")
        .join(sz.withColumnRenamed("doc_id", "b").withColumnRenamed("nsz", "nb"), on="b")
        .filter(
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            >= 0.8
        )
        .select("a", "b")
    )
    sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    # single-pass tagged union: the previous
    # truth-LEFT-JOIN-candidates + separate n_cand aggregate
    # consumed the candidate frame twice with incompatible
    # exchanges, so the WHOLE sigs+banding pipeline executed twice
    # (the executed plan held two identical 64-permutation
    # signature aggregates).  Both truth and cand are distinct
    # (a, b) sets by construction (truth via its groupBy, cand via
    # minhash_lsh_pairs' trailing .distinct()), so tagging each
    # side and max-merging on (a, b) yields n_true = Σ_t,
    # n_cand = Σ_c and n_found = Σ_t·_c in ONE aggregation pass —
    # candidates computed once, no pair join at all.  Exact int64
    # counts; identical values for every input.
    truth_t = truth.select(
        "a", "b", F.lit(1).alias("_t"), F.lit(0).alias("_c")
    )
    cand_t = cand.select(
        "a", "b", F.lit(0).alias("_t"), F.lit(1).alias("_c")
    )
    tagged = (
        truth_t.unionByName(cand_t)
        .groupBy("a", "b")
        .agg(F.max("_t").alias("_t"), F.max("_c").alias("_c"))
    )
    return tagged.agg(
        F.sum("_t").cast("bigint").alias("n_true"),
        F.sum(F.col("_t") * F.col("_c")).cast("bigint").alias("n_found"),
        F.sum("_c").cast("bigint").alias("n_cand"),
    ).select(
        "n_true",
        "n_found",
        "n_cand",
        F.round(
            F.col("n_found").cast("double")
            / F.col("n_true").cast("double"),
            9,
        ).alias("recall"),
        F.round(
            F.col("n_found").cast("double")
            / F.col("n_cand").cast("double"),
            9,
        ).alias("candidate_precision"),
    )


register("lsh_recall", q_lsh_recall, lambda: dedup._cand_ctes(5, 64, 8)
    + """, shd2 AS (
          SELECT DISTINCT doc_id, substring(txt, u.i, 5) AS s
          FROM norm,
               unnest(generate_series(1, greatest(length(txt) - 4, 1)))
                 AS u(i)
        ), sz2 AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd2
          GROUP BY doc_id
        ), inter2 AS (
          SELECT sa.doc_id AS a, sb.doc_id AS b,
                 CAST(count(*) AS BIGINT) AS i
          FROM shd2 sa
          JOIN shd2 sb ON sb.s = sa.s AND sa.doc_id < sb.doc_id
          GROUP BY sa.doc_id, sb.doc_id
        ), truth AS (
          SELECT i2.a, i2.b
          FROM inter2 i2
          JOIN sz2 za ON za.doc_id = i2.a
          JOIN sz2 zb ON zb.doc_id = i2.b
          WHERE CAST(i2.i AS DOUBLE)
                / CAST(za.n + zb.n - i2.i AS DOUBLE) >= 0.8
        ), tagged AS (
          -- mirror of the engine's single-pass tagged union (round 15,
          -- per ADVICE): identical to the former truth-LEFT-JOIN-cand +
          -- separate n_cand count on every non-degenerate input, and
          -- identical on the degenerate zero-truth corpus too (the old
          -- left-join form read n_found = NULL there while the engine
          -- reads 0)
          SELECT a, b, max(_t) AS _t, max(_c) AS _c FROM (
            SELECT a, b, 1 AS _t, 0 AS _c FROM truth
            UNION ALL
            SELECT a, b, 0 AS _t, 1 AS _c FROM cand
          ) GROUP BY a, b
        ), hits AS (
          SELECT CAST(sum(_t) AS BIGINT) AS n_true,
                 CAST(sum(_t * _c) AS BIGINT) AS n_found,
                 CAST(sum(_c) AS BIGINT) AS n_cand
          FROM tagged
        )
        SELECT n_true, n_found, n_cand,
               round(CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE), 9)
                 AS recall,
               round(CAST(n_found AS DOUBLE) / CAST(n_cand AS DOUBLE), 9)
                 AS candidate_precision
        FROM hits""")


def q_rouge_verify(spark, sf_dir):
    """ROUGE-1/2 verification over the MinHash-LSH candidate pairs
    — the composed fuzzy-containment decontamination pass the
    rouge_n docstring advertises: candidates come from the
    banding stack (never all-pairs), the clipped n-gram overlap
    then grades HOW MUCH of the reference document the candidate
    reproduces (recall) vs dilutes (precision) — the graded signal
    a binary Jaccard threshold flattens.  Composes two
    independently-gated layers; all counts exact int64, one
    division per ratio."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    pairs = cand.select(
        F.col("a").alias("ref_id"), F.col("b").alias("cand_id")
    )
    return llm_text.rouge_n(pairs, docs)


register("rouge_verify", q_rouge_verify, lambda: llm_text.rouge_n_oracle_sql(
    pairs_sql=dedup.lsh_candidates_sql(k=5, num_hashes=64, bands=8)
))


def q_gram_novelty(spark, sf_dir):
    """Per-document 8-gram novelty in ingestion order
    (llm/dedup.gram_novelty): the fraction of a doc's distinct
    gram fingerprints first seen in THIS doc — the crawl-
    saturation signal and the incremental-dedup drop score.  One
    gram explode, two md5-keyed aggregates, one id rollup; exact
    ints until the final division."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.gram_novelty(docs, n=8)


register("gram_novelty", q_gram_novelty, lambda: dedup.gram_novelty_oracle_sql(n=8))


def q_bloom_fpr(spark, sf_dir):
    """Measured Bloom false-positive rate — the accuracy harness
    for the bloom_decontaminate screen: probe the non-benchmark
    corpus, separate true hits (fingerprint genuinely in the
    benchmark set, e.g. exact duplicates across the split) from
    false ones via the exact fingerprint join, and emit measured
    FPR next to the theoretical (1 - e^(-kn/m))^k.  Counts exact;
    the two rates are one mirrored float chain each."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", "source", "text"
    )
    flagged = dedup.bloom_decontaminate(corpus, bench)
    fp_b = F.md5(dedup.normalize_text(F.col("text")))
    bset = bench.select(fp_b.alias("_fp")).distinct()
    truly = (
        corpus.select("doc_id", fp_b.alias("_fp"))
        .join(F.broadcast(bset), on="_fp", how="left_semi")
        .select(F.col("doc_id").alias("_td"))
    )
    j = flagged.join(
        F.broadcast(truly), flagged.doc_id == F.col("_td"), "left"
    )
    nb = bench.agg(F.count("*").cast("bigint").alias("_nb"))
    m = j.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum(F.col("bloom_hit").cast("bigint"))
        .cast("bigint")
        .alias("n_hits"),
        F.sum(
            (F.col("bloom_hit") & F.col("_td").isNotNull()).cast("bigint")
        )
        .cast("bigint")
        .alias("n_true_hits"),
        F.sum(
            (F.col("bloom_hit") & F.col("_td").isNull()).cast("bigint")
        )
        .cast("bigint")
        .alias("n_false_hits"),
    )
    theo = F.pow(
        1
        - F.exp(
            -(3.0 * F.col("_nb").cast("double")) / F.lit(65536.0)
        ),
        F.lit(3.0),
    )
    return m.crossJoin(F.broadcast(nb)).select(
        "n_probes",
        "n_hits",
        "n_true_hits",
        "n_false_hits",
        F.round(
            F.col("n_false_hits").cast("double")
            / F.col("n_probes").cast("double"),
            9,
        ).alias("measured_fpr"),
        F.round(theo, 9).alias("theoretical_fpr"),
    )


register("bloom_fpr", q_bloom_fpr, lambda: f"""
        WITH {dedup.bloom_flags_ctes("doc_id % 7 = 0", "doc_id % 7 <> 0")},
        bset AS (
          SELECT DISTINCT md5({dedup.normalize_text_sql()}) AS fp FROM documents
          WHERE doc_id % 7 = 0
        ), fl AS (
          SELECT f.doc_id, f.bloom_hit,
                 (md5({dedup.normalize_text_sql()}) IN (SELECT fp FROM bset))
                   AS is_true
          FROM flags f JOIN documents USING (doc_id)
        ), nb AS (
          SELECT CAST(count(*) AS BIGINT) AS nb FROM documents
          WHERE doc_id % 7 = 0
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n_probes,
                 CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hits,
                 CAST(sum(CASE WHEN bloom_hit AND is_true THEN 1 ELSE 0
                          END) AS BIGINT) AS n_true_hits,
                 CAST(sum(CASE WHEN bloom_hit AND NOT is_true THEN 1
                          ELSE 0 END) AS BIGINT) AS n_false_hits
          FROM fl
        )
        SELECT n_probes, n_hits, n_true_hits, n_false_hits,
               round(CAST(n_false_hits AS DOUBLE)
                     / CAST(n_probes AS DOUBLE), 9) AS measured_fpr,
               round(pow(1 - exp(-(3.0 * CAST(nb AS DOUBLE)) / 65536.0),
                         3.0), 9) AS theoretical_fpr
        FROM m CROSS JOIN nb""")


def q_bleu_verify(spark, sf_dir):
    """BLEU-2 over the MinHash-LSH candidate pairs — the
    precision-side generation/contamination metric completing
    ROUGE's recall side, composed from the independently-gated
    rouge_n layer (clipped n-gram overlaps and totals are its exact
    int64 outputs, pivoted to one row per pair).  p1/p2 are one
    division each; the brevity penalty exp(1 - ref/cand) is a
    single closed-form double (libm exp agrees across engines to
    1 ulp — same acceptance as the ln-based LM scores); bleu2 =
    bp * sqrt(p1*p2).  Pairs with no bigram side emit NULL (the
    rouge nullif contract)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    pairs = cand.select(
        F.col("a").alias("ref_id"), F.col("b").alias("cand_id")
    )
    r = llm_text.rouge_n(pairs, docs)
    piv = r.groupBy("ref_id", "cand_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("overlap"))).alias("_o1"),
        F.max(F.when(F.col("n") == 1, F.col("ref_total"))).alias("_r1"),
        F.max(F.when(F.col("n") == 1, F.col("cand_total"))).alias("_c1"),
        F.max(F.when(F.col("n") == 2, F.col("overlap"))).alias("_o2"),
        F.max(F.when(F.col("n") == 2, F.col("cand_total"))).alias("_c2"),
    )
    p1 = F.col("_o1").cast("double") / F.nullif(
        F.col("_c1").cast("double"), F.lit(0.0)
    )
    p2 = F.col("_o2").cast("double") / F.nullif(
        F.col("_c2").cast("double"), F.lit(0.0)
    )
    bp = F.when(F.col("_r1") <= F.col("_c1"), F.lit(1.0)).otherwise(
        F.exp(
            F.lit(1.0)
            - F.col("_r1").cast("double") / F.col("_c1").cast("double")
        )
    )
    return piv.select(
        "ref_id",
        "cand_id",
        F.col("_r1").cast("bigint").alias("ref_len"),
        F.col("_c1").cast("bigint").alias("cand_len"),
        F.round(p1, 9).alias("p1"),
        F.round(p2, 9).alias("p2"),
        F.round(bp, 9).alias("bp"),
        F.round(bp * F.sqrt(p1 * p2), 9).alias("bleu2"),
    )


# bleu_verify pivots the independently-gated rouge_n replay over the
# LSH candidates and applies the BLEU-2 closed form per row
register("bleu_verify", q_bleu_verify, lambda: f"""
        WITH r AS ({llm_text.rouge_n_oracle_sql(
            pairs_sql=dedup.lsh_candidates_sql(k=5, num_hashes=64, bands=8)
        )}),
        piv AS (
          SELECT ref_id, cand_id,
                 max(CASE WHEN n = 1 THEN "overlap" END) AS o1,
                 max(CASE WHEN n = 1 THEN ref_total END) AS r1,
                 max(CASE WHEN n = 1 THEN cand_total END) AS c1,
                 max(CASE WHEN n = 2 THEN "overlap" END) AS o2,
                 max(CASE WHEN n = 2 THEN cand_total END) AS c2
          FROM r GROUP BY ref_id, cand_id
        )
        SELECT ref_id, cand_id,
               CAST(r1 AS BIGINT) AS ref_len,
               CAST(c1 AS BIGINT) AS cand_len,
               round(CAST(o1 AS DOUBLE) / nullif(CAST(c1 AS DOUBLE), 0.0),
                     9) AS p1,
               round(CAST(o2 AS DOUBLE) / nullif(CAST(c2 AS DOUBLE), 0.0),
                     9) AS p2,
               round(CASE WHEN r1 <= c1 THEN 1.0
                     ELSE exp(1.0 - CAST(r1 AS DOUBLE) / CAST(c1 AS DOUBLE))
                     END, 9) AS bp,
               round((CASE WHEN r1 <= c1 THEN 1.0
                      ELSE exp(1.0 - CAST(r1 AS DOUBLE) / CAST(c1 AS DOUBLE))
                      END)
                     * sqrt((CAST(o1 AS DOUBLE)
                             / nullif(CAST(c1 AS DOUBLE), 0.0))
                            * (CAST(o2 AS DOUBLE)
                               / nullif(CAST(c2 AS DOUBLE), 0.0))), 9)
                 AS bleu2
        FROM piv""")


def q_dedup_threshold_sweep(spark, sf_dir):
    """Near-dup yield curve: the LSH candidates verified ONCE at
    jaccard >= 0.5 (exact integer inter/union counts), then counted
    against the whole threshold grid 50..95% by pure integer
    cross-multiplication (inter*100 >= pct*union — no float CDF).
    The session_gap_sweep shape for dedup policy: how many pairs
    and flagged docs does each candidate threshold cost, from one
    verify pass instead of ten."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    vr = dedup.jaccard_verify(
        docs, cand, k=5, threshold=0.5, with_counts=True
    )
    grid = F.explode(
        F.array(*[F.lit(50 + 5 * i).cast("bigint") for i in range(10)])
    )
    hit = (
        F.col("inter") * 100 >= F.col("pct") * F.col("union_sz")
    ).cast("bigint")
    return (
        vr.select("a", "b", "inter", "union_sz", grid.alias("pct"))
        .groupBy("pct")
        .agg(
            F.sum(hit).cast("bigint").alias("n_pairs"),
            F.countDistinct(
                F.when(
                    F.col("inter") * 100
                    >= F.col("pct") * F.col("union_sz"),
                    F.col("b"),
                )
            )
            .cast("bigint")
            .alias("n_docs_flagged"),
        )
    )


# the sweep verifies once at 0.5 (same float-division filter as the
# vp CTE) and counts the grid by integer cross-multiplication
register("dedup_threshold_sweep", q_dedup_threshold_sweep, lambda: dedup._cand_ctes(5, 64, 8)
    + dedup._verify_ctes(5, 0.5)
    + """, pc AS (
          SELECT i.a, i.b, CAST(i.i AS BIGINT) AS it,
                 CAST(za.n + zb.n - i.i AS BIGINT) AS un
          FROM inter i
          JOIN sz za ON za.doc_id = i.a
          JOIN sz zb ON zb.doc_id = i.b
          WHERE CAST(i.i AS DOUBLE) / (za.n + zb.n - i.i) >= 0.5
        ), grid AS (
          SELECT CAST(50 + 5 * g.g AS BIGINT) AS pct
          FROM unnest(generate_series(0, 9)) AS g(g)
        )
        SELECT pct,
               CAST(sum(CASE WHEN it * 100 >= pct * un THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT CASE WHEN it * 100 >= pct * un THEN b
                          END) AS BIGINT) AS n_docs_flagged
        FROM pc CROSS JOIN grid
        GROUP BY pct""")


def q_setsim_pairs(spark, sf_dir):
    """EXACT-threshold set-similarity self-join via AllPairs/PPJoin
    prefix filtering (llm/dedup.set_similarity_join; Bayardo
    WWW'07, Xiao WWW'08): every doc pair with 8-shingle Jaccard
    >= 4/5, no blocking and no MinHash approximation — each doc
    indexes only its (1-t)s+1 globally-RAREST shingles, and two
    docs missing a common prefix shingle provably sit under the
    threshold.  The deterministic-complete counterpart to the
    minhash_dedup recall bound (reference parity: the same
    near-dup surface as core/products.py shingle dedup).  All
    equi-joins + one per-doc window; exact int64 inter/union."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.set_similarity_join(docs, k=8, t_num=4, t_den=5)


register("setsim_pairs", q_setsim_pairs, lambda: dedup.set_similarity_join_oracle_sql(
    k=8, t_num=4, t_den=5
))


def q_winnow_pairs(spark, sf_dir):
    """Winnowing fingerprint match detection (llm/dedup
    .winnow_pairs; Schleimer-Wilkerson-Aiken SIGMOD'03 / MOSS):
    5-gram hashes -> sliding window-of-4 minima with rightmost
    tie-break (one per-doc window frame over a packed
    hash*2^20+(2^20-pos) key), fingerprints appearing in > 20 docs
    dropped as boilerplate (the bound that keeps the fp self-join
    linear), shared-fingerprint counts per pair.  Unlike MinHash
    the sketch preserves match POSITIONS; guarantee: any shared
    substring of length >= w+k-1 = 8 chars yields a shared
    fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.winnow_pairs(docs, k=5, w=4, max_df=20, min_shared=3)


register("winnow_pairs", q_winnow_pairs, lambda: dedup.winnow_pairs_oracle_sql(
    k=5, w=4, max_df=20, min_shared=3
))


def q_fs_linkage(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage (llm/dedup
    .fellegi_sunter_scores; JASA 1969) over the LSH candidate
    stream: per-pair agreement on (lang, source, length band) maps
    to an exact-int64 log-likelihood-ratio score via fixed (m, u)
    weights quantized to 1e-9 units (the fir-taps constant
    pattern), with the classic match / review / non-match
    three-way decision at posterior-odds 100:1 thresholds — the
    statistical-scoring layer on top of the blocking families."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
    return dedup.fellegi_sunter_scores(docs, cand)


register("fs_linkage", q_fs_linkage, lambda: dedup.fellegi_sunter_oracle_sql(
    k=5, num_hashes=64, bands=8
))


def q_dup_substring_spans(spark, sf_dir):
    """Maximal cross-document duplicated substring spans (llm/
    dedup.dup_substring_spans; Lee et al. 2022 exact-substring
    dedup) — the surgical cut list (doc, span_start, span_words)
    a span-removal pass deletes, where dup_span_detect only
    reports the per-doc duplicated fraction.  Word-8-gram md5
    fingerprints, distinct-doc >= 2 semi-join, interval-union
    span merge per document (starts within n merge, so spans are
    disjoint and sum(span_words) is the duplicated-word count).
    All-integer output."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.dup_substring_spans(docs, n=8)


register("dup_substring_spans", q_dup_substring_spans, lambda: dedup.dup_substring_spans_oracle_sql(n=8))


def q_dedup_eval(spark, sf_dir):
    """Precision/recall of the MinHash-LSH candidate stage against
    the EXACT-duplicate ground truth — the dedup family's own
    quality gate (the eval a pipeline runs before trusting a
    banding config): ground truth is fingerprint equality (md5 of
    normalized text); a candidate pair is a true positive iff its
    two fingerprints match, checked by JOINING the fingerprint
    table twice — no pair enumeration of the truth set; the truth
    pair COUNT is Σ m(m−1)/2 over fingerprint group sizes, also
    enumeration-free.  The headline metric is the BANDING
    PRECISION — what fraction of candidates survive exact-Jaccard
    verification at 0.8 (the banding-config selectivity a dedup
    operator tunes); exact-duplicate recall is reported NULL-safe
    (exact dups have identical signatures and always band-collide,
    so when the corpus has any, recall is structurally 1.0; the
    gate corpora have none and both engines agree on NULL).  All
    ratios are division-derived nano-units on exact counts.  Same
    banding config as the registered minhash_dedup (k=5, 64
    hashes, 8 bands, portable).  Returns one row (n_cand,
    n_verified, n_true_pairs, tp_exact, band_precision_units,
    exact_recall_units)."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, k=5, num_hashes=64, portable=True
    )
    cand = dedup.minhash_lsh_pairs(
        sigs, bands=8, portable=True
    ).localCheckpoint(eager=False)  # verify + fp joins + count
    ver = dedup.jaccard_verify(docs, cand, k=5, threshold=0.8)
    nver = ver.agg(
        F.count("*").cast("bigint").alias("n_verified")
    )
    fp = llm_text.fingerprint(
        docs.filter(F.col("text").isNotNull())
    ).select(
        F.col("doc_id").alias("_fid"), F.col("fingerprint").alias("_fp")
    ).localCheckpoint(eager=False)  # pair join x2 + group sizes
    tp = (
        cand.join(fp, cand["a"] == F.col("_fid"))
        .select("a", "b", F.col("_fp").alias("_fpa"))
        .join(
            fp.select(
                F.col("_fid").alias("_fid2"),
                F.col("_fp").alias("_fpb"),
            ),
            F.col("b") == F.col("_fid2"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_cand"),
            F.sum(
                F.when(F.col("_fpa") == F.col("_fpb"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("tp_exact"),
        )
    )
    truth = (
        fp.groupBy("_fp")
        .agg(F.count("*").cast("bigint").alias("_m"))
        .agg(
            F.sum(F.expr("(_m * (_m - 1)) div 2"))
            .cast("bigint")
            .alias("n_true_pairs")
        )
    )
    return (
        tp.crossJoin(F.broadcast(nver))
        .crossJoin(F.broadcast(truth))
        .select(
            "n_cand",
            "n_verified",
            "n_true_pairs",
            "tp_exact",
            F.round(
                F.lit(1e9)
                * (
                    F.col("n_verified").cast("double")
                    / F.col("n_cand").cast("double")
                )
            ).cast("bigint").alias("band_precision_units"),
            F.when(
                F.col("n_true_pairs") > 0,
                F.round(
                    F.lit(1e9)
                    * (
                        F.col("tp_exact").cast("double")
                        / F.col("n_true_pairs").cast("double")
                    )
                ).cast("bigint"),
            ).alias("exact_recall_units"),
        )
    )


register("dedup_eval", q_dedup_eval, lambda: dedup._vpairs_ctes(k=5, num_hashes=64, bands=8, threshold=0.8)
    + f""", fpt AS MATERIALIZED (
          SELECT doc_id,
                 md5({dedup.normalize_text_sql()})
                   AS fp
          FROM documents WHERE text IS NOT NULL
        ), tp AS (
          SELECT CAST(count(*) AS BIGINT) AS n_cand,
                 CAST(sum(CASE WHEN fa.fp = fb.fp THEN 1 ELSE 0 END)
                      AS BIGINT) AS tp_exact
          FROM cand
          JOIN fpt fa ON fa.doc_id = cand.a
          JOIN fpt fb ON fb.doc_id = cand.b
        ), nver AS (
          SELECT CAST(count(*) AS BIGINT) AS n_verified FROM vp
        ), truth AS (
          SELECT CAST(COALESCE(sum((m * (m - 1)) // 2), 0) AS BIGINT)
                   AS n_true_pairs
          FROM (SELECT count(*) AS m FROM fpt GROUP BY fp)
        )
        SELECT n_cand, n_verified, n_true_pairs, tp_exact,
               CAST(round(1e9 * (CAST(n_verified AS DOUBLE)
                                 / CAST(n_cand AS DOUBLE)))
                    AS BIGINT) AS band_precision_units,
               CASE WHEN n_true_pairs > 0 THEN
                 CAST(round(1e9 * (CAST(tp_exact AS DOUBLE)
                                   / CAST(n_true_pairs AS DOUBLE)))
                      AS BIGINT)
               END AS exact_recall_units
        FROM tp, nver, truth
    """)

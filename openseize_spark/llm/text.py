"""Text analysis operators: token counting, quality scoring, language-ID
heuristics, document fingerprinting.

All pure built-in string functions (JVM codegen) — the hot path over a
100 TB documents table never enters Python.  DuckDB-oracle-checkable
versions use only arithmetic on length/replace so both engines agree
bit-for-bit; each portable column helper has its DuckDB twin (``*_sql``)
beside it, and the oracles call the twin (ARCHITECTURE.md §13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openseize_spark.llm.dedup import (
    normalize_text,
    normalize_text_sql,
    tokenize,
    tokenize_sql,
)

# a small, fixed English stopword set for the ratio heuristics
STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "for", "with", "as")


def occurrence_count(col, needle: str):
    """# occurrences of `needle` via length arithmetic — engine-portable."""
    return (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))) / len(needle)


def occurrence_count_sql(expr: str, needle: str) -> str:
    """DuckDB twin of :func:`occurrence_count`."""
    n = len(needle)
    return f"(length({expr}) - length(replace({expr}, '{needle}', ''))) / {n}.0"


def _marker_hits(col, markers):
    """Summed occurrence counts of ``markers``."""
    return sum(occurrence_count(col, m) for m in markers)


def _marker_hits_sql(expr: str, markers) -> str:
    """DuckDB twin of :func:`_marker_hits`, summed in the same order."""
    return "(" + " + ".join(occurrence_count_sql(expr, m) for m in markers) + ")"


_STOP_MARKERS = tuple(f" {w} " for w in STOPWORDS)

# the punctuation the quality heuristics count
_PUNCT = (".", ",", "!", "?", ";", ":")


def _count_tokens(norm):
    """Whitespace token count of already-normalized text: spaces + 1."""
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        (occurrence_count(norm, " ") + 1).cast("long")
    )


def _count_tokens_sql(norm: str) -> str:
    """DuckDB twin of :func:`_count_tokens`."""
    return (
        f"CASE WHEN length({norm}) = 0 THEN 0 "
        f"ELSE (length({norm}) - length(replace({norm}, ' ', ''))) + 1 END"
    )


def token_count(col):
    """Whitespace token count = spaces + 1 on the collapsed form."""
    return _count_tokens(normalize_text(col))


def token_count_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`token_count`."""
    return _count_tokens_sql(normalize_text_sql(expr))


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality features: n_chars, n_tokens, avg token length,
    punctuation ratio, digit ratio, uppercase ratio, stopword score.

    Plain expression tree on purpose: in a PROJECT, whole-stage codegen's
    subexpression elimination already evaluates the repeated
    ``normalize_text`` chain once per row, and a higher-order-function
    binding (which never enters codegen) measures ~40% SLOWER here
    (A/B at sf0.1: 0.475 s vs 0.677 s min-of-5).  The HOF
    binding pays off only in FILTER predicates — see ``quality_expr``'s
    ``bind_once``."""
    t = F.col(text_col)
    norm = normalize_text(t)
    n_chars = F.length(t).cast("long")
    n_tokens = token_count(t)
    punct = _marker_hits(t, _PUNCT)
    stop_hits = _marker_hits(norm, _STOP_MARKERS)
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        (F.length(F.replace(norm, F.lit(" "), F.lit(""))) / F.greatest(n_tokens, F.lit(1))).alias(
            "avg_token_len"
        ),
        (punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (stop_hits / F.greatest(n_tokens, F.lit(1))).alias("stopword_ratio"),
    )


def quality_expr(text_col: str = "text", bind_once: bool = False):
    """Column expression for the composite quality score (same arithmetic
    as :func:`quality_score`'s output — shared so the one-pass composed
    filter cannot drift from the standalone scorer).

    ``bind_once`` selects how the regex-normalized text is evaluated —
    the ARITHMETIC is the same single ``_stop_score`` builder either
    way, so the score is bit-identical (A/B: 0 differing rows at sf0.1,
    and both forms oracle-green):

    - ``False`` (projections): plain expression tree.  Whole-stage
      codegen's subexpression elimination evaluates the repeated
      ``normalize_text`` chain once per row, and the whole score stays
      inside codegen — measured 0.430 s vs the HOF form's 0.514 s on a
      sf0.1 projection (min-of-5).
    - ``True`` (filter predicates): bind the normalized string once as
      the single element of an array and compute the stopword terms in
      one higher-order-function lambda.  Inside a FILTER condition
      codegen's subexpression elimination does NOT cover the repeated
      chain (~22 evaluations per row), so the one-evaluation HOF form
      wins big: 1.928 s -> 0.622 s on the same sf0.1 corpus filtered
      at 0.5."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("long")
    punct = _marker_hits(t, _PUNCT)
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    len_score = F.least(n_chars / 500.0, F.lit(1.0))
    punct_pen = F.when(punct_ratio > 0.1, 0.5).otherwise(1.0)

    def _stop_score(n):
        # n is the already-normalized text
        stop_hits = _marker_hits(n, _STOP_MARKERS)
        stopword_ratio = stop_hits / F.greatest(_count_tokens(n), F.lit(1))
        return F.least(stopword_ratio * 4.0, F.lit(1.0))

    if bind_once:
        stop_score = F.transform(F.array(normalize_text(t)), _stop_score)[0]
    else:
        stop_score = _stop_score(normalize_text(t))
    return (len_score * 0.5 + stop_score * 0.5) * punct_pen


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Composite heuristic quality score in [0,1]: favors documents with
    reasonable length, stopword presence, and moderate punctuation —
    the standard cheap pre-filter for LLM training corpora."""
    return docs.select(F.col(id_col), quality_expr(text_col).alias("quality"))


def quality_prune(
    docs: DataFrame,
    keep_num: int = 1,
    keep_den: int = 5,
    by_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """FineWeb-style quality pruning: keep the top ``keep_num/keep_den``
    fraction of documents per group by composite quality score
    (deterministic tie-break on the id).  The fraction is a RATIONAL so
    the keep cut is pure integer arithmetic (rank*den <= count*num,
    floor semantics) — a float ``ceil(frac*n)`` can flip at
    representation error (0.2*435 = 87.000...01) and diverge between
    engines.  One shuffle on the group key; the per-group rank window
    never sees more than one group."""
    if keep_num <= 0 or keep_den <= 0:
        raise ValueError("keep_num and keep_den must be > 0")
    scored = docs.select(
        F.col(id_col), F.col(by_col), quality_expr(text_col).alias("quality")
    )
    w = Window.partitionBy(by_col).orderBy(F.desc("quality"), F.col(id_col))
    wg = Window.partitionBy(by_col)
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("_cnt", F.count("*").over(wg))
        .filter(F.col("_rn") * keep_den <= F.col("_cnt") * keep_num)
        .drop("_rn", "_cnt")
    )


def c4_clean(
    docs: DataFrame,
    min_words: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style cleaning (Raffel et al.) adapted to sentence grain —
    the corpus carries no line structure, so sentences stand in for
    lines exactly as word windows stand in for paragraphs in
    chunk_dedup:

    - DOC rules: drop the whole document if it contains a curly brace
      (code), "lorem ipsum", or "javascript" (case-insensitive).
    - SENTENCE rules: keep only sentences that END IN TERMINAL
      PUNCTUATION (enforced by construction — sentences are extracted
      with ``[^.!?]+[.!?]+``, so a trailing unterminated fragment never
      matches) and carry at least ``min_words`` words.

    Everything is codegen string/array built-ins over one scan — no
    shuffle, no UDF; the regex is RE2-safe (no lookaround) so a SQL
    oracle replays it verbatim.  Returns (id, dropped_doc, n_sentences,
    n_kept, clean_text) with clean_text NULL for dropped docs and for
    docs with no surviving sentence.
    """
    txt = F.col(text_col)
    low = F.lower(txt)
    doc_bad = (
        txt.contains("{")
        | txt.contains("}")
        | low.contains("lorem ipsum")
        | low.contains("javascript")
    )
    sents = F.regexp_extract_all(txt, F.lit(r"[^.!?]+[.!?]+"), 0)
    wc = lambda s: F.size(  # noqa: E731 — shared word-count idiom
        F.filter(F.split(F.trim(s), r"\s+"), lambda w: F.length(w) > 0)
    )
    kept = F.filter(sents, lambda s: wc(s) >= min_words)
    # the lambda must be single-arg: passing F.trim directly would let
    # transform() bind the element INDEX to trim's optional second
    # parameter (the trim-character set), silently trimming nothing
    clean = F.array_join(F.transform(kept, lambda s: F.trim(s)), " ")
    n_kept = F.when(doc_bad, F.lit(0)).otherwise(F.size(kept))
    return docs.filter(txt.isNotNull()).select(
        F.col(id_col),
        doc_bad.alias("dropped_doc"),
        F.size(sents).cast("bigint").alias("n_sentences"),
        n_kept.cast("bigint").alias("n_kept"),
        F.when(doc_bad | (F.size(kept) == 0), F.lit(None).cast("string"))
        .otherwise(clean)
        .alias("clean_text"),
    )


_LANG_MARKERS = {
    "en": (" the ", " and ", " is "),
    "de": (" der ", " und ", " ist "),
    "fr": (" le ", " et ", " est "),
    "es": (" el ", " y ", " es "),
}


def _lang_scored(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # plain tree on purpose: in this projection codegen's subexpression
    # elimination already evaluates the normalize chain once per row; a
    # HOF binding leaves codegen and measured ~50% slower (A/B at sf0.1:
    # 0.416 s vs 0.628 s min-of-5)
    norm = F.concat(F.lit(" "), normalize_text(F.col(text_col)), F.lit(" "))
    scores = [
        _marker_hits(norm, ms).alias(f"_s_{lang}")
        for lang, ms in _LANG_MARKERS.items()
    ]
    return docs.select(F.col(id_col), *scores)


def _lang_scored_sql() -> str:
    """DuckDB twin of :func:`_lang_scored` over ``documents``: the CTEs
    ``norm`` and ``scored(doc_id, s_<lang>, ...)``."""
    scores = ",\n                 ".join(
        f"{_marker_hits_sql('nt', ms)} AS s_{lang}"
        for lang, ms in _LANG_MARKERS.items()
    )
    return f"""norm AS (
          SELECT doc_id, ' ' || {normalize_text_sql()} || ' ' AS nt
          FROM documents
        ), scored AS (
          SELECT doc_id,
                 {scores}
          FROM norm
        )"""


def _lang_pred(best):
    pred = F.lit("unk")
    for l in reversed(list(_LANG_MARKERS)):
        pred = F.when((best > 0) & (F.col(f"_s_{l}") == best), l).otherwise(pred)
    return pred


# the score columns of _lang_scored_sql, in _LANG_MARKERS order
_LANG_SCORES_SQL = ", ".join(f"s_{l}" for l in _LANG_MARKERS)


def _lang_pred_sql(best: str) -> str:
    """DuckDB twin of :func:`_lang_pred` over ``scored``'s columns."""
    whens = " ".join(
        f"WHEN {best} > 0 AND s_{l} = {best} THEN '{l}'" for l in _LANG_MARKERS
    )
    return f"CASE {whens} ELSE 'unk' END"


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram/stopword language heuristic over a fixed marker table.

    Scores each language by marker-word hit counts (broadcast join against
    a tiny marker DataFrame would also work; literal CASE keeps it
    codegen-only).  Returns (id, lang_pred, score).
    """
    scored = _lang_scored(docs, text_col, id_col)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"_s_{l}") for l in langs])
    return scored.select(F.col(id_col), _lang_pred(best).alias("lang_pred"), best.alias("score"))


def language_margin(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Language-ID with a confidence margin: best and second-best
    marker scores per document and their gap — the routing signal
    quality pipelines use to separate confident predictions from
    ambiguous ones (margin 0 = tie; route to the expensive classifier).
    Same codegen-only scoring as :func:`language_id`; the margin is a
    subtraction of two entries of one sorted score array."""
    scored = _lang_scored(docs, text_col, id_col)
    langs = list(_LANG_MARKERS)
    arr = F.array_sort(F.array(*[F.col(f"_s_{l}") for l in langs]))
    best = F.element_at(arr, -1)
    second = F.element_at(arr, -2)
    return scored.select(
        F.col(id_col),
        _lang_pred(F.greatest(*[F.col(f"_s_{l}") for l in langs])).alias(
            "lang_pred"
        ),
        F.round(best, 9).alias("score"),
        F.round(second, 9).alias("second_score"),
        F.round(best - second, 9).alias("margin"),
    )


def _words_expr(text_col: str):
    """The shared normalize->split words array (empty for empty text)."""
    norm = normalize_text(F.col(text_col))
    return F.when(F.length(norm) == 0, F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )


def _sorted_distinct_count(arr):
    """COUNT(DISTINCT elements) of a null-free string array as a single
    O(k log k) pass: sort, then count adjacency changes.  Replaces
    ``size(array_distinct(...))`` whose pairwise scan is O(k^2) on
    string arrays (round-14: dominant term of repetition_stats).
    Exactly equal for null-free arrays (split never yields nulls)."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(None).cast("string").alias("prev"), F.lit(0).alias("cnt")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            (
                acc["cnt"]
                + F.when(acc["prev"].isNull() | (x != acc["prev"]), 1).otherwise(0)
            ).alias("cnt"),
        ),
        lambda acc: acc["cnt"],
    )


def _ngram_dup_frac(w, n: int):
    """1 - distinct/total over the word n-grams of a BOUND words array
    ``w`` (a lambda variable, NOT a re-evaluated expression — referencing
    the words expression itself inside a per-element lambda re-runs the
    whole normalize+split chain per n-gram position, which round-14
    measured as 22.3 s -> 0.98 s at sf0.1 for the bound form).  The
    n-gram list is three whole-array slices zipped positionally; the
    strings, counts, and the final division are term-for-term the ones
    the unbound form produced (0 differing rows at sf0.1)."""
    m = F.size(w) - (n - 1)
    z = F.arrays_zip(*[F.slice(w, i + 1, m) for i in range(n)])
    ngr = F.transform(z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    frac = 1.0 - _sorted_distinct_count(ngr) / F.size(ngr).cast("double")
    return F.when(m > 0, frac).otherwise(F.lit(0.0))


def dup_ngram_frac_expr(text_col: str = "text", n: int = 3):
    """Column expression for the duplicate word-n-gram fraction (the
    repetition_stats column the composed filter thresholds on)."""
    return F.transform(F.array(_words_expr(text_col)), lambda w: _ngram_dup_frac(w, n))[0]


def pii_count_expr(text_col: str = "text"):
    """Column expression for the total PII match count."""
    t = F.col(text_col)
    return (
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(t, F.lit(URL_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0)))
        + F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    ).cast("long")


def repetition_stats(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document.

    (id, n_words, n_ngrams, dup_word_frac, dup_ngram_frac) where
    dup_*_frac = 1 - distinct/total: the fraction of word (resp. word
    n-gram) occurrences that are repeats of an earlier occurrence — the
    standard cheap filter for looping/spammy documents in LLM corpora.

    Entirely array built-ins, never exploded, so the hot path is a
    projection — no shuffle at all.  Round-14 shape: the words array is
    BOUND once per output column (never re-evaluated inside a
    per-element lambda), the n-gram list is built from whole-array
    slices, and both distinct counts are the O(k log k)
    sort-plus-adjacency pass (see _sorted_distinct_count /
    _ngram_dup_frac) — identical values, an order of magnitude faster
    on repetitive documents.
    """
    words = _words_expr(text_col)
    nw = F.size(words)
    # ng == nw-(n-1) when nw >= n else 0 (greatest(nw-(n-1),1) == the
    # transform's length under the old nw >= n guard)
    ng = F.when(nw >= n, nw - (n - 1)).otherwise(F.lit(0))
    dup_word = F.transform(
        F.array(words),
        lambda w: F.when(
            F.size(w) > 0,
            1.0 - _sorted_distinct_count(w) / F.size(w).cast("double"),
        ).otherwise(F.lit(0.0)),
    )[0]
    dup_ngram = F.transform(F.array(words), lambda w: _ngram_dup_frac(w, n))[0]
    return docs.select(
        F.col(id_col),
        nw.cast("long").alias("n_words"),
        ng.cast("long").alias("n_ngrams"),
        dup_word.alias("dup_word_frac"),
        dup_ngram.alias("dup_ngram_frac"),
    )


# RE2-safe patterns (no lookaround) so Spark (Java regex) and any
# SQL oracle engine (RE2) match the exact same spans.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[A-Za-z0-9./_%-]+"
IPV4_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def pii_scan(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII / link surface scan per document: match counts for emails,
    URLs, IPv4s, and phone-shaped strings, plus the length after
    redacting each span with a typed token (<EMAIL>, <URL>, <IP>,
    <PHONE> — applied in that fixed order, since an IPv4 can sit inside
    a URL).  Pure regexp built-ins, codegen, zero shuffle."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_RE), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
            ),
            IPV4_RE,
            "<IP>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        F.col(id_col),
        n_emails.cast("long").alias("n_emails"),
        n_urls.cast("long").alias("n_urls"),
        n_ips.cast("long").alias("n_ips"),
        n_phones.cast("long").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


def _token_rows(docs: DataFrame, text_col: str, word: str, *keys):
    """One row per token of each non-null text: the ``keys`` columns and
    the token as ``word``."""
    return docs.filter(F.col(text_col).isNotNull()).select(
        *keys, F.explode(tokenize(F.col(text_col))).alias(word)
    )


def _token_rows_sql(keys: str = "doc_id", word: str = "w") -> str:
    """DuckDB twin of :func:`_token_rows` over ``documents``."""
    keys = f"{keys}, " if keys else ""
    return (
        f"SELECT {keys}unnest({tokenize_sql()}) AS {word} "
        "FROM documents WHERE text IS NOT NULL"
    )


def _doc_terms(docs: DataFrame, text_col: str, id_col: str, word: str, cnt: str):
    """Per-document term counts ``(_id, word, cnt)`` over the non-null
    texts.  A caller whose table feeds several consumers checkpoints it
    lazily (``localCheckpoint(eager=False)``): consumers with different
    pruned schemas defeat ReuseExchange, so the corpus explode would
    re-run per consumer, and unlike ``persist()`` the checkpoint is
    released by the ContextCleaner with the DataFrame."""
    return (
        _token_rows(docs, text_col, word, F.col(id_col).alias("_id"))
        .groupBy("_id", word)
        .agg(F.count("*").alias(cnt))
    )


def _doc_terms_sql(word: str = "w", cnt: str = "k") -> str:
    """DuckDB twin of :func:`_doc_terms` (``doc_id`` for ``_id``)."""
    return (
        f"SELECT doc_id, {word}, count(*) AS {cnt} "
        f"FROM ({_token_rows_sql(word=word)}) GROUP BY doc_id, {word}"
    )


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 9,
) -> DataFrame:
    """CCNet-style perplexity-proxy quality score from a corpus-derived
    unigram language model: score(doc) = -(1/n) * sum_w log p(w), where
    p(w) = corpus_count(w) / corpus_tokens.  Documents full of common
    words score low (fluent), rare-token soup scores high — the cheap
    stand-in for the KenLM perplexity bucket CCNet uses to split corpora
    into head/middle/tail quality tiers.

    Scale shape: doc-word counts aggregate first (bounded by per-doc
    vocabulary, far below token count), the corpus unigram table
    aggregates from those partials on the word key, the one-row token
    total rides a broadcast cross join, and the score join keys on the
    word — every shuffle is a partial-aggregated short-key exchange; no
    UDFs, no driver collects.

    Both engines compute ln() through their own libm, so the per-word
    logprob is quantized to an INTEGER number of 10^-round_digits units
    before the weighted sum — the sum is then exact int64 arithmetic
    (associativity-free, like pack_sequences' prefix sums), and only
    the final division re-enters floats, identically on both engines.
    A per-word float round() is NOT enough: round(x, 9) is not a binary
    multiple of 1e-9, so a hundred-term float sum still diverges at
    1e-10 and the final rounding straddles.

    Returns (id, n_tokens, score).
    """
    scale = float(10**round_digits)
    # two consumers: vocab and the score join
    doc_words = _doc_terms(docs, text_col, id_col, "_w", "_k").localCheckpoint(
        eager=False
    )
    vocab = doc_words.groupBy("_w").agg(F.sum("_k").alias("_cnt"))
    total = vocab.agg(F.sum("_cnt").alias("_tot"))
    lp_units = F.round(
        F.log(F.col("_cnt").cast("double") / F.col("_tot").cast("double"))
        * scale,
        0,
    ).cast("bigint")
    scored = (
        doc_words.join(vocab, on="_w")
        .crossJoin(F.broadcast(total))
        .withColumn("_lp9", lp_units)
        .groupBy("_id")
        .agg(
            F.sum("_k").cast("bigint").alias("n_tokens"),
            F.round(
                -F.sum(F.col("_k") * F.col("_lp9")).cast("double")
                / (F.lit(scale) * F.sum("_k")),
                round_digits,
            ).alias("score"),
        )
    )
    return scored.select(F.col("_id").alias(id_col), "n_tokens", "score")


def unigram_logprob_oracle_sql(round_digits: int = 9) -> str:
    """DuckDB SQL equal to unigram_logprob: identical normalization,
    tokenization, integer logprob quantization, and final rounding."""
    scale = float(10**round_digits)
    return f"""
        WITH dw AS ({_doc_terms_sql()}), vocab AS (
          SELECT w, sum(k) AS cnt FROM dw GROUP BY w
        ), tot AS (SELECT sum(cnt) AS t FROM vocab)
        SELECT dw.doc_id,
               CAST(sum(dw.k) AS BIGINT) AS n_tokens,
               round(
                 -CAST(sum(dw.k * CAST(round(
                     ln(CAST(vocab.cnt AS DOUBLE) / CAST(tot.t AS DOUBLE))
                     * {scale}) AS BIGINT)) AS DOUBLE)
                   / ({scale} * sum(dw.k)),
                 {round_digits}) AS score
        FROM dw JOIN vocab USING (w) CROSS JOIN tot
        GROUP BY dw.doc_id"""


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 9,
) -> DataFrame:
    """Bigram language-model quality score with Laplace smoothing — the
    next step up from ``unigram_logprob`` toward the KenLM perplexity
    filter: score(doc) = -(1/m) * sum log p(w2|w1) over the doc's m
    adjacent word pairs, with p(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V)
    (V = corpus vocabulary size).  Word-salad that reuses common words
    in uncommon orders — which the unigram model cannot see — scores
    high here.

    Scale shape: pairs come from zipping each doc's word array with its
    own tail (``slice``+``arrays_zip`` — no positional self-join), the
    corpus bigram table aggregates from per-doc partials on the (w1,w2)
    key, left-context totals reduce that same table on w1, and V rides
    a broadcast one-row cross join.  Every shuffle is a short-key
    partial-aggregated exchange; no UDFs, no driver collects.

    Same integer-quantization discipline as ``unigram_logprob``: each
    log p is rounded to an int64 count of 10^-round_digits units before
    the weighted sum, so summation order cannot move the result; floats
    only reappear in the final division, identically on both engines.

    Docs with fewer than two tokens have no bigrams and are absent from
    the output.  Returns (id, n_bigrams, score).
    """
    scale = float(10**round_digits)
    words = tokenize(F.col(text_col))
    n = F.size("_ws")
    pairs = F.arrays_zip(
        F.slice(F.col("_ws"), 1, n - 1).alias("w1"),
        F.slice(F.col("_ws"), 2, n - 1).alias("w2"),
    )
    doc_bi = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), words.alias("_ws"))
        .filter(n >= 2)
        .select("_id", F.explode(pairs).alias("_p"))
        .select("_id", F.col("_p.w1").alias("_w1"), F.col("_p.w2").alias("_w2"))
        .groupBy("_id", "_w1", "_w2")
        .agg(F.count("*").alias("_k"))
        # consumed by the corpus bigram table AND the score join; lazy
        # localCheckpoint materializes the bounded aggregate once
        .localCheckpoint(eager=False)
    )
    bi = doc_bi.groupBy("_w1", "_w2").agg(F.sum("_k").alias("_c12"))
    left_tot = bi.groupBy("_w1").agg(F.sum("_c12").alias("_c1"))
    vocab_n = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(words).alias("_w"))
        .agg(F.countDistinct("_w").alias("_v"))
    )
    lp_units = F.round(
        F.log(
            (F.col("_c12") + 1).cast("double")
            / (F.col("_c1") + F.col("_v")).cast("double")
        )
        * scale,
        0,
    ).cast("bigint")
    scored = (
        doc_bi.join(bi, on=["_w1", "_w2"])
        .join(left_tot, on="_w1")
        .crossJoin(F.broadcast(vocab_n))
        .withColumn("_lp9", lp_units)
        .groupBy("_id")
        .agg(
            F.sum("_k").cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(F.col("_k") * F.col("_lp9")).cast("double")
                / (F.lit(scale) * F.sum("_k")),
                round_digits,
            ).alias("score"),
        )
    )
    return scored.select(F.col("_id").alias(id_col), "n_bigrams", "score")


def bigram_logprob_oracle_sql(round_digits: int = 9) -> str:
    """DuckDB SQL equal to bigram_logprob: identical normalization,
    tail-zip pairing, Laplace smoothing, and integer quantization."""
    scale = float(10**round_digits)
    return f"""
        WITH wl AS (
          SELECT doc_id, {tokenize_sql()} AS ws
          FROM documents WHERE text IS NOT NULL
        ), pairs AS (
          SELECT doc_id, ws[g.i] AS w1, ws[g.i + 1] AS w2
          FROM wl, unnest(generate_series(1, len(ws) - 1)) AS g(i)
          WHERE len(ws) >= 2
        ), db AS (
          SELECT doc_id, w1, w2, count(*) AS k
          FROM pairs GROUP BY doc_id, w1, w2
        ), bi AS (
          SELECT w1, w2, sum(k) AS c12 FROM db GROUP BY w1, w2
        ), lt AS (
          SELECT w1, sum(c12) AS c1 FROM bi GROUP BY w1
        ), vn AS (
          SELECT count(DISTINCT u.w) AS v
          FROM wl, unnest(ws) AS u(w)
        )
        SELECT db.doc_id,
               CAST(sum(db.k) AS BIGINT) AS n_bigrams,
               round(
                 -CAST(sum(db.k * CAST(round(
                     ln(CAST(bi.c12 + 1 AS DOUBLE)
                        / CAST(lt.c1 + vn.v AS DOUBLE))
                     * {scale}) AS BIGINT)) AS DOUBLE)
                   / ({scale} * sum(db.k)),
                 {round_digits}) AS score
        FROM db JOIN bi USING (w1, w2) JOIN lt USING (w1) CROSS JOIN vn
        GROUP BY db.doc_id"""


def vocab_stats(
    docs: DataFrame, top_k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary table (the Zipf curve): per-word total count,
    frequency rank, and cumulative coverage — what fraction of all token
    occurrences the top-``rank`` words account for.  The standard first
    look at a new corpus (tokenizer fit, stopword choice, junk check).

    Scale shape: explode -> two-level count aggregate (map-side partial
    combine bounds the shuffle at distinct-vocabulary size), a
    deterministic ``orderBy().limit(top_k)`` (TakeOrderedAndProject:
    per-partition top-k, never a vocabulary-wide single-partition sort),
    then rank and cumulative sum via a broadcast inequality self-join
    over the <= top_k survivors (the corpus_shuffle pattern — a global
    row_number window here would funnel the whole vocabulary through
    one task).  The cumulative sum is int64-exact; only the final
    coverage division is float (same operands both engines).

    Returns the top_k rows of (word, cnt, rank, coverage).
    """
    vocab = (
        _token_rows(docs, text_col, "word")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # two consumers: total, top-k
    )
    total = vocab.agg(F.sum("cnt").alias("_tot"))
    top = vocab.orderBy(F.desc("cnt"), F.col("word")).limit(top_k)
    a = top.select(F.col("word"), F.col("cnt"))
    b = top.select(F.col("word").alias("_bw"), F.col("cnt").alias("_bc"))
    at_or_before = (F.col("_bc") > F.col("cnt")) | (
        (F.col("_bc") == F.col("cnt")) & (F.col("_bw") <= F.col("word"))
    )
    return (
        a.join(F.broadcast(b), at_or_before)
        .groupBy("word", "cnt")
        .agg(
            F.count("*").cast("bigint").alias("rank"),
            F.sum("_bc").alias("_cum"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "cnt",
            "rank",
            (F.col("_cum").cast("double") / F.col("_tot").cast("double")).alias(
                "coverage"
            ),
        )
    )


def vocab_stats_oracle_sql(top_k: int = 100) -> str:
    """DuckDB SQL equal to vocab_stats."""
    return f"""
        WITH vocab AS (
          SELECT word, CAST(count(*) AS BIGINT) AS cnt
          FROM ({_token_rows_sql("", "word")}) GROUP BY word
        ), tot AS (SELECT sum(cnt) AS t FROM vocab),
        ranked AS (
          SELECT word, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT)
                   AS rank,
                 CAST(sum(cnt) OVER (
                   ORDER BY cnt DESC, word
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS BIGINT) AS cum
          FROM vocab
        )
        SELECT word, cnt, rank,
               CAST(cum AS DOUBLE) / CAST(tot.t AS DOUBLE) AS coverage
        FROM ranked CROSS JOIN tot
        WHERE rank <= {top_k}"""


def bpe_pair_counts(
    docs: DataFrame, top_k: int = 50, text_col: str = "text"
) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-wide counts
    of adjacent symbol (character) pairs inside words, weighted by word
    frequency — the statistic whose argmax becomes the first merge rule.
    Subsequent iterations re-run over re-segmented words; this operator
    is the distributed inner loop.

    Scale shape: the corpus collapses to its word-frequency table first
    (the explode amplification is bounded by distinct vocabulary, not
    token count — a word occurring a billion times contributes its
    character pairs once, weighted), then each word explodes to its
    adjacent char pairs and the pair counts aggregate with map-side
    partial combine.  Top-k selection is TakeOrdered + the broadcast
    rank self-join (cf. vocab_stats), never a global window.

    Returns (pair, cnt, rank) for the top_k pairs.
    """
    vocab = (
        _token_rows(docs, text_col, "word")
        .groupBy("word")
        .agg(F.count("*").alias("_wc"))
        .filter(F.length("word") >= 2)
    )
    pair_idx = F.sequence(F.lit(1), F.length("word") - 1)
    pairs = vocab.select(
        F.explode(
            F.transform(pair_idx, lambda i: F.substring(F.col("word"), i, 2))
        ).alias("pair"),
        F.col("_wc"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("_wc").cast("bigint").alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.col("pair")).limit(top_k)
    a = top.select("pair", "cnt")
    b = top.select(F.col("pair").alias("_bp"), F.col("cnt").alias("_bc"))
    at_or_before = (F.col("_bc") > F.col("cnt")) | (
        (F.col("_bc") == F.col("cnt")) & (F.col("_bp") <= F.col("pair"))
    )
    return (
        a.join(F.broadcast(b), at_or_before)
        .groupBy("pair", "cnt")
        .agg(F.count("*").cast("bigint").alias("rank"))
        .select("pair", "cnt", "rank")
    )


def bpe_pair_counts_oracle_sql(top_k: int = 50) -> str:
    """DuckDB SQL equal to bpe_pair_counts."""
    return f"""
        WITH vocab AS (
          SELECT word, count(*) AS wc FROM ({_token_rows_sql("", "word")})
          GROUP BY word HAVING length(word) >= 2
        ), pairs AS (
          SELECT substring(word, u.i, 2) AS pair, wc
          FROM vocab, unnest(generate_series(1, length(word) - 1)) AS u(i)
        ), cnts AS (
          SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt FROM pairs GROUP BY pair
        ), ranked AS (
          SELECT pair, cnt,
                 CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
                   AS rank
          FROM cnts
        )
        SELECT pair, cnt, rank FROM ranked WHERE rank <= {top_k}"""


def source_divergence(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    round_digits: int = 9,
) -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution
    from the whole-corpus distribution: KL(p_s || p) =
    sum_w p_s(w) * ln(p_s(w) / p(w)).  The standard drift/outlier check
    on a mixed training corpus — a source whose KL spikes is from a
    different domain (or broken extraction) and deserves a look before
    it trains.

    Same exactness discipline as unigram_logprob: every per-word log
    ratio is quantized to an integer number of 10^-round_digits units
    (the log argument is a chain of single IEEE divisions — identical
    on both engines), the weighted sum is exact int64, and only the
    final division re-enters floats.

    Scale shape: (source, word) counts aggregate with partial combine,
    the word-marginal table joins on the word key, and the tiny
    source-marginal and corpus-total tables broadcast — no shuffle
    beyond the two count aggregations.

    Returns (group, n_tokens, kl).
    """
    scale = float(10**round_digits)
    sw = (
        _token_rows(docs, text_col, "_w", F.col(group_col).alias("_grp"))
        .groupBy("_grp", "_w")
        .agg(F.count("*").alias("_k"))
        # four consumers: wtot, stot, ctot and the KL join (see _doc_terms)
        .localCheckpoint(eager=False)
    )
    wtot = sw.groupBy("_w").agg(F.sum("_k").alias("_kw"))
    stot = sw.groupBy("_grp").agg(F.sum("_k").alias("_ns"))
    ctot = sw.agg(F.sum("_k").alias("_n"))
    ratio = (F.col("_k").cast("double") / F.col("_ns").cast("double")) / (
        F.col("_kw").cast("double") / F.col("_n").cast("double")
    )
    term = F.round(F.log(ratio) * scale, 0).cast("bigint")
    return (
        sw.join(wtot, on="_w")
        .join(F.broadcast(stot), on="_grp")
        .crossJoin(F.broadcast(ctot))
        .withColumn("_t", term)
        .groupBy("_grp")
        .agg(
            F.sum("_k").cast("bigint").alias("n_tokens"),
            (
                F.sum(F.col("_k") * F.col("_t")).cast("double")
                / (F.lit(scale) * F.sum("_k"))
            ).alias("kl"),
        )
        .select(F.col("_grp").alias(group_col), "n_tokens", "kl")
    )


def source_divergence_oracle_sql(
    group_col: str = "source", round_digits: int = 9
) -> str:
    """DuckDB SQL equal to source_divergence."""
    scale = float(10**round_digits)
    return f"""
        WITH sw AS (
          SELECT grp, w, count(*) AS k
          FROM ({_token_rows_sql(f"{group_col} AS grp")}) GROUP BY grp, w
        ), wtot AS (
          SELECT w, sum(k) AS kw FROM sw GROUP BY w
        ), stot AS (
          SELECT grp, sum(k) AS ns FROM sw GROUP BY grp
        ), ctot AS (SELECT sum(k) AS n FROM sw)
        SELECT sw.grp AS {group_col},
               CAST(sum(sw.k) AS BIGINT) AS n_tokens,
               CAST(CAST(sum(sw.k * CAST(round(
                   ln((CAST(sw.k AS DOUBLE) / CAST(stot.ns AS DOUBLE))
                      / (CAST(wtot.kw AS DOUBLE) / CAST(ctot.n AS DOUBLE)))
                   * {scale}) AS BIGINT)) AS BIGINT) AS DOUBLE)
                 / ({scale} * sum(sw.k)) AS kl
        FROM sw JOIN wtot USING (w) JOIN stot USING (grp) CROSS JOIN ctot
        GROUP BY sw.grp"""


def rake_keywords(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are the maximal stopword-free word runs of each document; every
    word scores deg(w)/freq(w) within its document (deg = summed
    length of the phrases containing each occurrence, freq =
    occurrence count), a phrase scores the sum of its member-word
    scores, and the top-``k`` phrases per document are returned —
    the unsupervised keyphrase primitive of corpus exploration.

    Exactness: deg/freq are exact int64; each word score is quantized
    to integer nano-units (round(1e9·deg/freq) — division-derived,
    IEEE-identical both engines, half-away ties identical), so the
    per-phrase sum is exact integer and the top-k ordering
    (score_units DESC, phrase ASC, phrase_id ASC) never compares
    floats.

    Scale shape: documents are independent — every window and
    aggregate keys on the doc id (plus word/phrase), so the whole op
    is embarrassingly partition-parallel with map-side combine; the
    top-k is a per-doc WindowGroupLimit, never a global sort.

    Returns (id, phrase, n_words, score_units, rank), rank 1..k.
    """
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("_pos", "_w"),
    )
    w = Window.partitionBy("_id").orderBy("_pos")
    flagged = toks.withColumn(
        "_st", F.when(F.col("_w").isin(*STOPWORDS), 1).otherwise(0)
    ).withColumn(
        "_pid",
        F.sum("_st").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ns = (
        flagged.filter(F.col("_st") == 0)
        .select("_id", "_pos", "_w", "_pid")
        # three consumers: phrase table, word stats, phrase scores
        .localCheckpoint(eager=False)
    )
    ph = ns.groupBy("_id", "_pid").agg(
        F.count("*").cast("bigint").alias("_len"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_w"))),
                lambda s: s["_w"],
            ),
            " ",
        ).alias("phrase"),
    ).localCheckpoint(eager=False)  # two consumers: deg join + output
    ws = (
        ns.join(ph.select("_id", "_pid", "_len"), on=["_id", "_pid"])
        .groupBy("_id", "_w")
        .agg(
            F.count("*").cast("bigint").alias("_freq"),
            F.sum("_len").cast("bigint").alias("_deg"),
        )
    )
    wu = ws.select(
        "_id",
        "_w",
        F.round(
            F.lit(1e9)
            * (F.col("_deg").cast("double") / F.col("_freq").cast("double"))
        )
        .cast("bigint")
        .alias("_wu"),
    )
    sc = (
        ns.join(wu, on=["_id", "_w"])
        .groupBy("_id", "_pid")
        .agg(F.sum("_wu").cast("bigint").alias("score_units"))
        .join(ph, on=["_id", "_pid"])
    )
    wr = Window.partitionBy("_id").orderBy(
        F.col("score_units").desc(), F.col("phrase").asc(), F.col("_pid").asc()
    )
    return (
        sc.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            "phrase",
            F.col("_len").alias("n_words"),
            "score_units",
            "rank",
        )
    )


def rake_keywords_oracle_sql(k: int = 3) -> str:
    """DuckDB replay of :func:`rake_keywords`: identical tokenization,
    stopword islands, deg/freq nano-unit quantization, and top-k
    ordering."""
    stop = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
        WITH toks AS (
          SELECT doc_id, CAST(u.i AS BIGINT) - 1 AS pos,
                 list_extract(wl, u.i) AS w
          FROM (
            SELECT doc_id,
                   {tokenize_sql()} AS wl
            FROM documents WHERE text IS NOT NULL
          ), unnest(range(1, len(wl) + 1)) AS u(i)
        ), flagged AS (
          SELECT doc_id, pos, w,
                 CASE WHEN w IN ({stop}) THEN 1 ELSE 0 END AS st
          FROM toks
        ), ns AS MATERIALIZED (
          SELECT doc_id, pos, w, pid FROM (
            SELECT doc_id, pos, w, st,
                   sum(st) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING
                   ) AS pid
            FROM flagged
          ) WHERE st = 0
        ), ph AS MATERIALIZED (
          SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS len,
                 string_agg(w, ' ' ORDER BY pos) AS phrase
          FROM ns GROUP BY 1, 2
        ), ws AS (
          SELECT ns.doc_id, ns.w,
                 CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(ph.len) AS BIGINT) AS deg
          FROM ns JOIN ph USING (doc_id, pid)
          GROUP BY 1, 2
        ), wu AS (
          SELECT doc_id, w,
                 CAST(round(1e9 * (CAST(deg AS DOUBLE)
                                   / CAST(freq AS DOUBLE)))
                      AS BIGINT) AS wu
          FROM ws
        ), sc AS (
          SELECT ns.doc_id, ns.pid,
                 CAST(sum(wu.wu) AS BIGINT) AS score_units
          FROM ns JOIN wu ON ns.doc_id = wu.doc_id AND ns.w = wu.w
          GROUP BY 1, 2
        )
        SELECT doc_id, phrase, len AS n_words, score_units,
               CAST(rank AS INT) AS rank
        FROM (
          SELECT sc.doc_id, ph.phrase, ph.len, sc.score_units,
                 row_number() OVER (
                   PARTITION BY sc.doc_id
                   ORDER BY sc.score_units DESC, ph.phrase ASC,
                            sc.pid ASC
                 ) AS rank
          FROM sc JOIN ph USING (doc_id, pid)
        ) WHERE rank <= {k}"""


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stable document fingerprint: md5 of the normalized text (exact-dedup
    key; engine-portable since md5 is standardized)."""
    return docs.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 3,
    k: int = 10,
    by_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Top-k word n-grams per group — the heavy-hitter corpus-statistics
    pattern: explode n-grams, two-level aggregation (map-side partial
    combine bounds the shuffle at distinct-ngram cardinality per task),
    rank window over the per-group counts.  Returns
    (group, ngram, cnt, rank).  Exact, not sketched: at 100 TB the
    partial agg is the load-bearing step and the window only sees the
    aggregated (group, ngram) space.
    """
    toks = docs.select(
        F.col(by_col).alias("grp"), tokenize(F.col(text_col)).alias("_w")
    )
    # guard: sequence(1, 0) is DESCENDING in Spark, not empty — docs with
    # fewer than n words must emit no grams, not truncated ones
    idx = F.when(
        F.size("_w") >= n, F.sequence(F.lit(1), F.size("_w") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        "grp",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice("_w", i, n)))
        ).alias("ngram"),
    )
    counts = grams.groupBy("grp", "ngram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.col("ngram"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(by_col), "ngram", "cnt", "rank")
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
    round_digits: int = 9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k keyword terms by TF-IDF (raw-count tf variant):
    score(d, w) = tf(d, w) * ln(N / df(w)) with N = #docs containing at
    least one token and df(w) = #docs containing w.  The classic keyword
    extractor / sparse-retrieval feature (BM25's ancestor), and a cheap
    topic fingerprint per document.

    Scale shape: doc-word counts partial-aggregate before any shuffle
    (bounded by per-doc vocabulary), df aggregates from those partials on
    the word key, the one-row N rides a broadcast cross join, and the
    final rank window partitions on the document id — millions of tiny
    partitions, never a global sort.  No UDFs.

    Determinism discipline (same as unigram_logprob): both engines
    compute ln() through their own libm, so the per-word idf is quantized
    to an integer number of 10^-round_digits units; the ranking key
    ``tf * idf_units`` is then exact int64 arithmetic — ties cannot
    straddle a float boundary — and only the reported ``score`` column
    re-enters floats via one identical division.  Ties broken on the
    word.  Returns (id, word, tf, score, rank).
    """
    scale = float(10**round_digits)
    # three consumers: scores, df and N
    dw = _doc_terms(docs, text_col, id_col, "word", "tf").localCheckpoint(eager=False)
    df_tbl = dw.groupBy("word").agg(F.count("*").alias("_df"))
    n_docs = dw.select("_id").distinct().agg(F.count("*").alias("_n"))
    idf_units = F.round(
        F.log(F.col("_n").cast("double") / F.col("_df").cast("double")) * scale, 0
    ).cast("bigint")
    scored = (
        dw.join(df_tbl, on="word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("_su", F.col("tf") * idf_units)
    )
    w = Window.partitionBy("_id").orderBy(F.desc("_su"), F.col("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            "word",
            F.col("tf").cast("bigint").alias("tf"),
            (F.col("_su").cast("double") / F.lit(scale)).alias("score"),
            "rank",
        )
    )


def tfidf_topk_oracle_sql(k: int = 5, round_digits: int = 9) -> str:
    """DuckDB SQL equal to tfidf_topk: identical normalization,
    tokenization, integer idf quantization, and tie-break."""
    scale = float(10**round_digits)
    return f"""
        WITH dw AS ({_doc_terms_sql("word", "tf")}), dfreq AS (
          SELECT word, count(*) AS df FROM dw GROUP BY word
        ), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dw),
        scored AS (
          SELECT dw.doc_id, dw.word, dw.tf,
                 dw.tf * CAST(round(
                   ln(CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
                   * {scale}) AS BIGINT) AS su
          FROM dw JOIN dfreq USING (word) CROSS JOIN n
        )
        SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
               CAST(su AS DOUBLE) / {scale} AS score,
               CAST(row_number() OVER (
                 PARTITION BY doc_id ORDER BY su DESC, word
               ) AS BIGINT) AS rank
        FROM scored
        QUALIFY rank <= {k}"""


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply an ordered BPE merge table to every document and report
    per-doc token counts — the distributed *encode* half of the
    tokenizer whose *fit* statistic ``bpe_pair_counts`` computes.
    Symbols are separated by a sentinel byte and each merge (a, b) is
    one literal string replace of ``sep+a+sep+b`` with ``sep+ab``:
    replace() substitutes non-overlapping occurrences left-to-right,
    which is exactly BPE's greedy within-pass semantics, and later
    merges can consume earlier merges' output symbols (the gate list
    includes such a cascade).

    Scale shape: the encode runs on the DISTINCT word table — a word
    occurring a billion times is encoded once — as a chain of M
    codegen string replaces (no UDF, no shuffle); per-doc totals come
    from joining the per-doc tf table to the encoded vocabulary on the
    word key.  All-integer until the final tokens-per-word division.

    Every token is wrapped in its OWN sentinel pair (``SaS SbS``), so a
    merge pattern ``SaSSbS`` can only match complete symbols — a
    single shared delimiter would let the pattern match a symbol
    PREFIX (merge (aa, b) firing inside token "bb"; found by the
    property test) or skip adjacent occurrences.

    Returns (id, n_words, n_tokens, tokens_per_word).
    """
    sep = "\x01"
    dw = _doc_terms(docs, text_col, id_col, "word", "_tf")
    vocab = dw.select("word").distinct()
    enc = F.regexp_replace(F.col("word"), "(.)", sep + "$1" + sep)
    for a, b in merges:
        enc = F.replace(
            enc,
            F.lit(sep + a + sep + sep + b + sep),
            F.lit(sep + a + b + sep),
        )
    encoded = vocab.select(
        "word",
        F.size(
            F.filter(F.split(enc, sep), lambda s: F.length(s) > 0)
        ).alias("_ntok"),
    )
    return (
        dw.join(encoded, on="word")
        .groupBy("_id")
        .agg(
            F.sum("_tf").cast("bigint").alias("n_words"),
            F.sum(F.col("_tf") * F.col("_ntok")).cast("bigint").alias("n_tokens"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words").cast("double"),
                9,
            ).alias("tokens_per_word"),
        )
    )


def bpe_apply_oracle_sql(merges: list[tuple[str, str]]) -> str:
    """DuckDB SQL equal to bpe_apply: identical per-token sentinel-pair
    encoding and ordered literal replaces (both engines' replace()
    substitutes non-overlapping occurrences left-to-right)."""
    def q(s: str) -> str:
        return s.replace(chr(39), chr(39) * 2)

    enc = "regexp_replace(word, '(.)', chr(1) || '\\1' || chr(1), 'g')"
    for a, b in merges:
        pat = f"chr(1) || '{q(a)}' || chr(1) || chr(1) || '{q(b)}' || chr(1)"
        rep = f"chr(1) || '{q(a)}{q(b)}' || chr(1)"
        enc = f"replace({enc}, {pat}, {rep})"
    return f"""
        WITH dw AS ({_doc_terms_sql("word", "tf")}),
        vocab AS (SELECT DISTINCT word FROM dw),
        encoded AS (
          SELECT word,
                 len(list_filter(string_split({enc}, chr(1)),
                                 x -> len(x) > 0)) AS ntok
          FROM vocab
        )
        SELECT dw.doc_id,
               CAST(sum(dw.tf) AS BIGINT) AS n_words,
               CAST(sum(dw.tf * encoded.ntok) AS BIGINT) AS n_tokens,
               round(CAST(sum(dw.tf * encoded.ntok) AS DOUBLE)
                     / CAST(sum(dw.tf) AS DOUBLE), 9) AS tokens_per_word
        FROM dw JOIN encoded USING (word)
        GROUP BY dw.doc_id"""


def doc_chunks(
    docs: DataFrame,
    chunk_words: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping word-window chunks — the
    retrieval/embedding preprocessing step every RAG and long-context
    training pipeline runs before vectorizing.  Chunk starts advance by
    ``stride`` (overlap = chunk_words - stride) and the final chunk is
    pinned to the document tail so no words are dropped; start
    positions are pure integer arithmetic, so the chunking is identical
    on any engine.

    Scale shape: one projection + explode per document, no shuffle at
    all — chunking is embarrassingly parallel and stays inside
    whole-stage codegen; the per-doc chunk count is ceil plus one,
    bounded by doc length / stride.

    Returns (id, chunk_idx, start_word, n_words, chunk_text,
    chunk_hash) where start_word is 1-based and chunk_hash is the md5
    of the chunk text (the dedup/lineage key downstream stages join
    on).
    """
    if not (1 <= stride <= chunk_words):
        # stride > chunk_words leaves inter-chunk gaps, breaking the
        # no-words-dropped contract (found by the coverage property test)
        raise ValueError("doc_chunks requires 1 <= stride <= chunk_words")
    words = tokenize(F.col(text_col))
    n = F.size("_w")
    last = F.greatest(n - chunk_words + 1, F.lit(1))
    grid = F.transform(
        F.sequence(F.lit(0), F.floor((last - 1) / stride).cast("int")),
        lambda k: k * stride + 1,
    )
    # append the pinned tail start only when it is off the stride grid —
    # a conditional append keeps ascending order without a distinct
    # (whose ordering guarantees differ across engines)
    starts = F.when(
        (last - 1) % stride != 0, F.concat(grid, F.array(last))
    ).otherwise(grid)
    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"), words.alias("_w"))
        .filter(n >= 1)
        .select("_id", "_w", F.posexplode(starts).alias("_k", "_start"))
    )
    chunk = F.concat_ws(
        " ", F.slice(F.col("_w"), F.col("_start"), chunk_words)
    )
    return base.select(
        F.col("_id").alias(id_col),
        (F.col("_k") + 1).cast("bigint").alias("chunk_idx"),
        F.col("_start").cast("bigint").alias("start_word"),
        F.least(
            F.lit(chunk_words), F.size("_w") - F.col("_start") + 1
        ).cast("bigint").alias("n_words"),
        chunk.alias("chunk_text"),
        F.md5(chunk).alias("chunk_hash"),
    )


def doc_chunks_oracle_sql(chunk_words: int = 64, stride: int = 48) -> str:
    """DuckDB SQL equal to doc_chunks: identical normalization, start
    grid (stride steps plus the pinned tail start), slicing, and md5."""
    W, S = chunk_words, stride
    return f"""
        WITH w AS (
          SELECT doc_id,
                 {tokenize_sql()} AS wl
          FROM documents WHERE text IS NOT NULL
        ), grid AS (
          SELECT doc_id, wl,
                 CASE WHEN (greatest(len(wl) - {W} + 1, 1) - 1) % {S} <> 0
                 THEN list_append(
                   list_transform(
                     generate_series(0,
                       CAST(floor((greatest(len(wl) - {W} + 1, 1) - 1)
                                  / {S}) AS BIGINT)),
                     k -> k * {S} + 1),
                   greatest(len(wl) - {W} + 1, 1))
                 ELSE list_transform(
                   generate_series(0,
                     CAST(floor((greatest(len(wl) - {W} + 1, 1) - 1)
                                / {S}) AS BIGINT)),
                   k -> k * {S} + 1)
                 END AS starts
          FROM w WHERE len(wl) >= 1
        ), ex AS (
          SELECT doc_id, wl, starts[u.i] AS start_word,
                 u.i AS chunk_idx
          FROM grid, unnest(generate_series(1, len(starts))) AS u(i)
        )
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(start_word AS BIGINT) AS start_word,
               CAST(least({W}, len(wl) - start_word + 1) AS BIGINT)
                 AS n_words,
               array_to_string(wl[start_word:(start_word + {W} - 1)], ' ')
                 AS chunk_text,
               md5(array_to_string(wl[start_word:(start_word + {W} - 1)], ' '))
                 AS chunk_hash
        FROM ex"""


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.3,
    max_df_pct: int = 5,
    round_digits: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_abs: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine all-pairs similarity via a posting-list
    self-join (the Bayardo et al. "scaling up all pairs" shape) — the
    lexical near-dup complement to MinHash: pairs that share *weighted*
    rare terms score high even when their shingle Jaccard is low.

    Scale shape: terms appearing in more than ``max_df_pct`` percent of
    documents are pruned first (the df cut is integer arithmetic:
    ``df * 100 <= pct * N``), so each surviving posting list contributes
    at most C(df_cap, 2) candidate pairs — the self-join on the word key
    is bounded, never all-pairs over the corpus.  Per-doc squared norms
    partial-aggregate on the id key; the pair dot-product aggregates on
    the (a, b) key from posting-join partials.

    Weights are integer TF-IDF units (round_digits defaults to 4, not
    9, so the *squared* sums stay far inside int64), making dot and
    norms exact; the final cosine divides once through IEEE-exact
    double sqrt — identical on any engine.  Returns (id_a, id_b,
    dot_units, cosine) for cosine >= threshold, id_a < id_b.

    100 TB caveat and the ``max_df_abs`` fix: a purely RELATIVE df cut
    lets every surviving posting list grow with the corpus (df_cap =
    pct% of N), so candidate pairs grow ~quadratically in N — measured
    at the 10x scaling bench as a 38x cost step (exponent 1.58) while
    every other headline query stayed sublinear.  Passing an absolute
    cap composes ``df <= min(pct% * N, max_df_abs)``: per-term pair
    fan-out is then bounded by C(max_df_abs, 2) regardless of corpus
    size and the candidate stream grows linearly with the vocabulary.
    Terms squeezed out by the absolute cap are the weakest-idf ones in
    the surviving band — the same recall-for-scale trade IVF makes
    against brute-force cosine.  Choose max_df_abs >= pct% * N at
    verification scale so the capped variant is bit-identical to the
    reference semantics there.

    ARM CHOICE (measured; see README "Choosing a TF-IDF pair arm" and
    ``tools/heaps_recall.py``): 512 = near-dup contract (0.998
    near-dup recall, 1/28 cost), 2048 = full pair fidelity (0.998
    all-pair recall, 1/1.8 cost), None = exact, 256 = max-scale
    candidate generation.  Above ~5k docs the near-dup and all-pair
    contracts genuinely diverge — downstream consumers of pair output
    must state which arm they mean.
    """
    scale = float(10**round_digits)
    dw = _doc_terms(docs, text_col, id_col, "_w", "_tf").localCheckpoint(eager=False)
    df_tbl = dw.groupBy("_w").agg(F.count("*").alias("_df"))
    n_docs = dw.select("_id").distinct().agg(F.count("*").alias("_n"))
    idf_units = F.round(
        F.log(F.col("_n").cast("double") / F.col("_df").cast("double")) * scale,
        0,
    ).cast("bigint")
    df_cut = F.col("_df") * 100 <= F.lit(max_df_pct) * F.col("_n")
    if max_df_abs is not None:
        df_cut = df_cut & (F.col("_df") <= F.lit(int(max_df_abs)))
    post = (
        dw.join(df_tbl, on="_w")
        .crossJoin(F.broadcast(n_docs))
        .filter(df_cut)
        .select("_w", "_id", (F.col("_tf") * idf_units).alias("_su"))
        # zero-weight postings (idf == 0: the word is in every doc)
        # contribute nothing to dot or norm, and an all-zero doc would
        # make the cosine divide by a zero norm (ANSI mode throws —
        # found by the brute-force property test)
        .filter(F.col("_su") != 0)
        # consumed by the norm aggregate and both sides of the pair join
        .localCheckpoint(eager=False)
    )
    # consumed twice (the id_a and id_b sides of the final join); without
    # the checkpoint each side re-aggregates from its own full posting
    # scan — one extra posting pass plus a duplicate |docs|-row exchange
    norms = (
        post.groupBy("_id")
        .agg(F.sum(F.col("_su") * F.col("_su")).alias("_n2"))
        .localCheckpoint(eager=False)
    )
    a = post.select(F.col("_id").alias("id_a"), "_w", F.col("_su").alias("_sa"))
    b = post.select(F.col("_id").alias("id_b"), "_w", F.col("_su").alias("_sb"))
    dots = (
        a.join(b, on="_w")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_sa") * F.col("_sb")).alias("dot_units"))
    )
    na = norms.select(F.col("_id").alias("id_a"), F.col("_n2").alias("_na2"))
    nb = norms.select(F.col("_id").alias("id_b"), F.col("_n2").alias("_nb2"))
    cos = F.col("dot_units").cast("double") / F.sqrt(
        F.col("_na2").cast("double") * F.col("_nb2").cast("double")
    )
    return (
        dots.join(na, on="id_a")
        .join(nb, on="id_b")
        .filter(cos >= F.lit(float(threshold)))
        .select(
            "id_a",
            "id_b",
            F.col("dot_units").cast("bigint").alias("dot_units"),
            F.round(cos, 9).alias("cosine"),
        )
    )


def tfidf_cosine_pairs_oracle_sql(
    threshold: float = 0.3,
    max_df_pct: int = 5,
    round_digits: int = 4,
    max_df_abs: int | None = None,
) -> str:
    """DuckDB SQL equal to tfidf_cosine_pairs: identical tokenization,
    integer TF-IDF units, df pruning (relative, plus the optional
    absolute cap), posting join, and cosine."""
    scale = float(10**round_digits)
    abs_cut = (
        f"\n            AND dfreq.df <= {int(max_df_abs)}"
        if max_df_abs is not None
        else ""
    )
    return f"""
        WITH dw AS ({_doc_terms_sql("w", "tf")}), dfreq AS (
          SELECT w, count(*) AS df FROM dw GROUP BY w
        ), n AS (SELECT count(DISTINCT doc_id) AS nd FROM dw),
        post AS (
          SELECT dw.w, dw.doc_id,
                 dw.tf * CAST(round(
                   ln(CAST(n.nd AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
                   * {scale}) AS BIGINT) AS su
          FROM dw JOIN dfreq USING (w) CROSS JOIN n
          WHERE dfreq.df * 100 <= {max_df_pct} * n.nd{abs_cut}
            AND dw.tf * CAST(round(
                  ln(CAST(n.nd AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
                  * {scale}) AS BIGINT) <> 0
        ), norms AS (
          SELECT doc_id, CAST(sum(su * su) AS BIGINT) AS n2
          FROM post GROUP BY doc_id
        ), dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(sum(a.su * b.su) AS BIGINT) AS dot_units
          FROM post a JOIN post b
            ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        )
        SELECT id_a, id_b, dot_units,
               round(CAST(dot_units AS DOUBLE)
                     / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)),
                     9) AS cosine
        FROM dots
        JOIN norms na ON dots.id_a = na.doc_id
        JOIN norms nb ON dots.id_b = nb.doc_id
        WHERE CAST(dot_units AS DOUBLE)
              / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
              >= {float(threshold)}"""


def bm25_topk(
    docs: DataFrame,
    queries: dict[int, str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse keyword retrieval: BM25 top-k documents per query — the
    lexical complement to the dense ANN family (knn_cosine / ivf_topk /
    pq_adc_topk).  score(q, d) = sum over query terms of
    idf(w) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl)) with the
    Robertson-Sparck-Jones idf ln((N - df + 0.5)/(df + 0.5) + 1).

    Scale shape: the inverted-index join — doc-word partials join the
    (broadcast, tiny) query-term table FIRST, so only postings for query
    terms ever flow; doc length and df join on short keys; corpus stats
    (N, avgdl) ride one broadcast row; the rank window partitions per
    query.  At 100 TB the per-query cost is proportional to the posting
    lists touched, not the corpus.

    Determinism discipline: every float intermediate (idf, length
    normalizer) is built with an expression shape mirrored exactly in
    the SQL oracle (explicit DOUBLE casts so DuckDB cannot slip into
    DECIMAL arithmetic), the per-term score quantizes to integer
    10^-round_digits units, and the per-doc sum is exact int64; ties
    break on doc id.  Returns (query_id, id, score, rank).
    """
    scale = float(10**round_digits)
    k1p1 = float(k1 + 1.0)
    one_minus_b = float(1.0 - b)
    spark = docs.sparkSession
    # three consumers: postings, dl and df
    dw = _doc_terms(docs, text_col, id_col, "word", "tf").localCheckpoint(eager=False)
    dl = dw.groupBy("_id").agg(F.sum("tf").alias("_dl"))
    stats = dl.agg(
        F.count("*").alias("_n"), F.sum("_dl").alias("_tot")
    )
    qrows = [
        (int(qid), w)
        for qid, text in queries.items()
        for w in dict.fromkeys(text.lower().split())
    ]
    qt = spark.createDataFrame(qrows, "query_id long, word string")
    # df only for QUERY-TERM words ("aggregate what you need"): the
    # scored join consumes df solely through the qt join, so
    # pre-filtering dw by the query vocabulary — a codegen isin over
    # the tiny driver-side word list, no extra join or broadcast —
    # before the word-keyed aggregation shrinks it from the full corpus
    # vocabulary to the posting lists actually touched; df values for
    # those words are unchanged (the filter is on the group key)
    qword_list = sorted({w for _, w in qrows})
    df_tbl = (
        dw.filter(F.col("word").isin(qword_list))
        .groupBy("word")
        .agg(F.count("*").alias("_df"))
    )
    avgdl = F.col("_tot").cast("double") / F.col("_n").cast("double")
    idf = F.log(
        ((F.col("_n") - F.col("_df")).cast("double") + F.lit(0.5))
        / (F.col("_df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf").cast("double") + F.lit(float(k1)) * (
        F.lit(one_minus_b) + F.lit(float(b)) * (F.col("_dl").cast("double") / avgdl)
    )
    su = F.round(
        idf * (F.col("tf").cast("double") * F.lit(k1p1) / denom) * scale, 0
    ).cast("bigint")
    scored = (
        dw.join(F.broadcast(qt), on="word")
        .join(dl, on="_id")
        .join(df_tbl, on="word")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "_id")
        .agg(F.sum(su).cast("bigint").alias("_su"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_su"), F.col("_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("_id").alias(id_col),
            (F.col("_su").cast("double") / F.lit(scale)).alias("score"),
            "rank",
        )
    )


def rrf_fusion(
    docs: DataFrame,
    queries: dict[int, str],
    k: int = 10,
    rrf_k: int = 60,
    inner_k: int = 20,
    round_digits: int = 9,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two sparse retrievers — BM25 and a
    plain TF-IDF query scorer — the standard way hybrid search merges
    rankers without score calibration: fused(d) = sum over rankers of
    1/(rrf_k + rank_r(d)), missing ranks contributing zero.

    Scale shape: each ranker is its own bounded top-``inner_k`` per
    query (BM25 reuses the inverted-index join; the TF-IDF ranker
    joins the same broadcast query-term table), the fusion is a
    full-outer join on the (query, doc) key — at most
    2 x inner_k x n_queries rows — and the final rank window
    partitions per query.  The only float math is 1/(rrf_k + rank) on
    exact integer ranks, added in fixed expression order, so the fused
    key is engine-invariant.

    Returns (query_id, id, rank_bm25, rank_tfidf, rrf, rank).
    """
    scale = float(10**round_digits)
    spark = docs.sparkSession
    bm = bm25_topk(
        docs, queries, k=inner_k, round_digits=round_digits,
        text_col=text_col, id_col=id_col,
    ).select(
        "query_id", F.col(id_col).alias("_id"), F.col("rank").alias("rank_bm25")
    )
    # second ranker: integer-unit TF-IDF over the same query terms
    dw = _doc_terms(docs, text_col, id_col, "word", "tf").localCheckpoint(eager=False)
    n_docs = dw.select("_id").distinct().agg(F.count("*").alias("_n"))
    qrows = [
        (int(qid), w)
        for qid, qtext in queries.items()
        for w in dict.fromkeys(qtext.lower().split())
    ]
    qt = spark.createDataFrame(qrows, "query_id long, word string")
    # df only for query-term words (same as bm25_topk: the tf_scored
    # join consumes df solely through the qt join; codegen isin over
    # the tiny driver-side word list)
    qword_list = sorted({w for _, w in qrows})
    df_tbl = (
        dw.filter(F.col("word").isin(qword_list))
        .groupBy("word")
        .agg(F.count("*").alias("_df"))
    )
    idf_units = F.round(
        F.log(F.col("_n").cast("double") / F.col("_df").cast("double")) * scale,
        0,
    ).cast("bigint")
    tf_scored = (
        dw.join(F.broadcast(qt), on="word")
        .join(df_tbl, on="word")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("query_id", "_id")
        .agg(F.sum(F.col("tf") * idf_units).cast("bigint").alias("_su"))
    )
    wt = Window.partitionBy("query_id").orderBy(F.desc("_su"), F.col("_id"))
    tfr = (
        tf_scored.withColumn("rank_tfidf", F.row_number().over(wt).cast("bigint"))
        .filter(F.col("rank_tfidf") <= inner_k)
        .select("query_id", "_id", "rank_tfidf")
    )
    fused = bm.join(tfr, on=["query_id", "_id"], how="full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank_bm25").cast("double")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("rank_tfidf").cast("double")),
        F.lit(0.0),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("_rrf"), F.col("_id")
    )
    return (
        fused.withColumn("_rrf", rrf)
        .withColumn("rank", F.row_number().over(wf).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("_id").alias(id_col),
            "rank_bm25",
            "rank_tfidf",
            F.round("_rrf", 12).alias("rrf"),
            "rank",
        )
    )


def rrf_fusion_oracle_sql(
    queries: dict[int, str],
    k: int = 10,
    rrf_k: int = 60,
    inner_k: int = 20,
    round_digits: int = 9,
) -> str:
    """DuckDB SQL equal to rrf_fusion: the BM25 oracle as a derived
    table, the TF-IDF ranker replayed with the same integer units, the
    same fixed-order reciprocal-rank sum."""
    scale = float(10**round_digits)
    bm_sql = bm25_topk_oracle_sql(
        queries=queries, k=inner_k, round_digits=round_digits
    )
    qvals = ", ".join(
        f"({int(qid)}, '{w.replace(chr(39), chr(39) * 2)}')"
        for qid, qtext in queries.items()
        for w in dict.fromkeys(qtext.lower().split())
    )
    return f"""
        WITH bm AS (
          SELECT query_id, doc_id, rank AS rank_bm25
          FROM ({bm_sql})
        ), dw AS ({_doc_terms_sql("word", "tf")}), dfreq AS (
          SELECT word, count(*) AS df FROM dw GROUP BY word
        ), n AS (SELECT count(DISTINCT doc_id) AS nd FROM dw),
        qt(query_id, word) AS (VALUES {qvals}),
        tf_scored AS (
          SELECT qt.query_id, dw.doc_id,
                 CAST(sum(dw.tf * CAST(round(
                   ln(CAST(n.nd AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
                   * {scale}) AS BIGINT)) AS BIGINT) AS su
          FROM dw JOIN qt USING (word) JOIN dfreq USING (word) CROSS JOIN n
          GROUP BY qt.query_id, dw.doc_id
        ), tfr AS (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (
                   PARTITION BY query_id ORDER BY su DESC, doc_id
                 ) AS BIGINT) AS rank_tfidf
          FROM tf_scored
          QUALIFY rank_tfidf <= {inner_k}
        ), fused AS (
          SELECT coalesce(bm.query_id, tfr.query_id) AS query_id,
                 coalesce(bm.doc_id, tfr.doc_id) AS doc_id,
                 bm.rank_bm25, tfr.rank_tfidf,
                 coalesce(CAST(1.0 AS DOUBLE)
                          / ({float(rrf_k)} + CAST(rank_bm25 AS DOUBLE)),
                          CAST(0.0 AS DOUBLE))
                 + coalesce(CAST(1.0 AS DOUBLE)
                            / ({float(rrf_k)} + CAST(rank_tfidf AS DOUBLE)),
                            CAST(0.0 AS DOUBLE)) AS rrf_raw
          FROM bm FULL OUTER JOIN tfr
            ON bm.query_id = tfr.query_id AND bm.doc_id = tfr.doc_id
        )
        SELECT query_id, doc_id, rank_bm25, rank_tfidf,
               round(rrf_raw, 12) AS rrf,
               CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY rrf_raw DESC, doc_id
               ) AS BIGINT) AS rank
        FROM fused
        QUALIFY rank <= {k}"""


def bm25_topk_oracle_sql(
    queries: dict[int, str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: int = 9,
) -> str:
    """DuckDB replay of :func:`bm25_topk` — identical tokenization,
    float expression shapes (explicit DOUBLE casts), quantization, and
    tie-break.  Float literals use repr() (shortest round-trip), so both
    engines parse the identical double.
    """
    scale = float(10**round_digits)
    k1p1 = float(k1 + 1.0)
    one_minus_b = float(1.0 - b)
    vals = ", ".join(
        f"({int(qid)}, '{w.replace(chr(39), chr(39) * 2)}')"
        for qid, text in queries.items()
        for w in dict.fromkeys(text.lower().split())
    )
    return f"""
        WITH dw AS ({_doc_terms_sql("word", "tf")}), dl AS (
          SELECT doc_id, sum(tf) AS dl FROM dw GROUP BY doc_id
        ), dfreq AS (
          SELECT word, count(*) AS df FROM dw GROUP BY word
        ), stats AS (
          SELECT count(*) AS n, sum(dl) AS tot FROM dl
        ), qt (query_id, word) AS (VALUES {vals}),
        scored AS (
          SELECT CAST(qt.query_id AS BIGINT) AS query_id, dw.doc_id,
                 CAST(sum(CAST(round(
                   ln((CAST(stats.n - dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                      / (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                      + CAST(1.0 AS DOUBLE))
                   * (CAST(dw.tf AS DOUBLE) * {k1p1!r}
                      / (CAST(dw.tf AS DOUBLE) + {float(k1)!r}
                         * ({one_minus_b!r} + {float(b)!r}
                            * (CAST(dl.dl AS DOUBLE)
                               / (CAST(stats.tot AS DOUBLE)
                                  / CAST(stats.n AS DOUBLE))))))
                   * {scale}) AS BIGINT)) AS BIGINT) AS su
          FROM dw
          JOIN qt USING (word)
          JOIN dl USING (doc_id)
          JOIN dfreq USING (word)
          CROSS JOIN stats
          GROUP BY qt.query_id, dw.doc_id
        )
        SELECT query_id, doc_id,
               CAST(su AS DOUBLE) / {scale} AS score,
               CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY su DESC, doc_id
               ) AS BIGINT) AS rank
        FROM scored
        QUALIFY rank <= {k}"""


def quality_filter(
    docs: DataFrame,
    min_quality: float = 0.5,
    max_dup_ngram_frac: float = 0.3,
    max_pii: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style composed pre-filter: keep documents that pass the quality
    heuristic AND are not repetition-dominated AND carry little PII.

    Composition is literally one pass: the three scorers share column
    expression builders (quality_expr / dup_ngram_frac_expr /
    pii_count_expr) with their standalone DataFrame forms, so the whole
    filter is a single shuffle-free codegen projection over one scan —
    no joins, which at 100 TB would each shuffle the full corpus.
    Returns the surviving (id, quality, dup_ngram_frac, n_pii) rows.
    """
    out = docs.select(
        F.col(id_col),
        # bind_once: the thresholds push below this projection as a
        # FILTER predicate, where codegen subexpression elimination
        # does not cover the repeated normalize chain (see quality_expr)
        quality_expr(text_col, bind_once=True).alias("quality"),
        dup_ngram_frac_expr(text_col, n=3).alias("dup_ngram_frac"),
        pii_count_expr(text_col).alias("n_pii"),
    )
    return out.filter(
        (F.col("quality") >= min_quality)
        & (F.col("dup_ngram_frac") <= max_dup_ngram_frac)
        & (F.col("n_pii") <= max_pii)
    )


# ----------------------------------------------------------- hashing trick
def hashed_doc_features(
    docs: DataFrame,
    dim: int = 64,
    seed: str = "fh",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing document vectors (Weinberger et al. 2009): each
    word occurrence adds ±1 to one of ``dim`` buckets (bucket and sign
    from independent salted hashes), producing a fixed-width integer
    embedding with no vocabulary to build, broadcast, or keep in sync —
    the classic pre-neural text featurizer, and still the cheapest
    fixed-dim representation for clustering/dedup sketches at corpus
    scale.

    Emits scalar per-doc invariants instead of the array (engine-hash
    friendly, pins every bucket through two independent linear probes):
    ``n_terms`` (occurrences), ``nnz`` (non-zero buckets), ``l2sq``
    (exact integer squared norm), and ``probe_dot`` (dot with the fixed
    ±1 parity probe).  All-integer arithmetic end-to-end.

    Plan: explode words -> one (doc, bucket) partial-combine aggregate
    -> one per-doc aggregate; vocabulary never materializes.
    """
    from openseize_spark.llm.sampling import salted_hash

    occ = (
        _token_rows(docs, text_col, "_w", F.col(id_col).alias("_id"))
        .select(
            "_id",
            (salted_hash(F.col("_w"), seed) % dim).alias("_b"),
            (salted_hash(F.col("_w"), seed + "s") % 2 * 2 - 1).alias("_sgn"),
        )
    )
    buckets = occ.groupBy("_id", "_b").agg(
        F.sum("_sgn").alias("_v"), F.count("*").alias("_k")
    )
    return (
        buckets.groupBy("_id")
        .agg(
            F.sum("_k").cast("bigint").alias("n_terms"),
            F.sum((F.col("_v") != 0).cast("bigint")).cast("bigint").alias("nnz"),
            F.sum(F.col("_v") * F.col("_v")).cast("bigint").alias("l2sq"),
            F.sum(F.col("_v") * (F.col("_b") % 2 * 2 - 1))
            .cast("bigint")
            .alias("probe_dot"),
        )
        .select(F.col("_id").alias(id_col), "n_terms", "nnz", "l2sq", "probe_dot")
    )


def hashed_doc_features_oracle_sql(dim: int = 64, seed: str = "fh") -> str:
    """DuckDB replay of :func:`hashed_doc_features` over ``documents``."""
    from openseize_spark.llm.sampling import salted_hash_sql

    hb = salted_hash_sql("u.w", seed)
    hs = salted_hash_sql("u.w", seed + "s")
    return f"""
        WITH toks AS (
          {_token_rows_sql()}
        ), occ AS (
          SELECT doc_id,
                 ({hb} % {dim}) AS b,
                 ({hs} % 2 * 2 - 1) AS sgn
          FROM toks u
        ), buckets AS (
          SELECT doc_id, b,
                 CAST(sum(sgn) AS BIGINT) AS v,
                 count(*) AS k
          FROM occ GROUP BY doc_id, b
        )
        SELECT doc_id,
               CAST(sum(k) AS BIGINT) AS n_terms,
               CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nnz,
               CAST(sum(v * v) AS BIGINT) AS l2sq,
               CAST(sum(v * (b % 2 * 2 - 1)) AS BIGINT) AS probe_dot
        FROM buckets GROUP BY doc_id"""


def rouge_n(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_col: str = "ref_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """ROUGE-1 and ROUGE-2 (Lin 2004) for every (reference, candidate)
    document pair: clipped n-gram overlap — sum over grams of
    min(count_ref, count_cand) — with recall (the ROUGE score proper),
    precision, and F1.  The summarization/generation eval metric, and
    the fuzzy-containment signal exact-fingerprint decontamination
    misses; ``pairs`` is any bounded pair table (eval pairs keyed by a
    shared prompt id, LSH candidates, adjacent ids).

    All counts are exact int64; each ratio is ONE division of two
    exact integers (F1 = 2*overlap / (ref_total + cand_total), the
    algebraic collapse of 2PR/(P+R)), rounded once at 9 decimals —
    no float accumulates.  Pairs with an empty side emit NULL ratios
    via nullif.

    Scale shape: one corpus scan explodes grams (unigrams + zipped
    bigrams, both codegen array ops), one (doc, n, gram)-keyed partial
    aggregation; the overlap is two equi-joins that fan out only on
    the PAIRED docs' shared grams (candidate-bounded, never corpus
    all-pairs), and per-pair totals join on the pair keys.  Returns
    (ref_id, cand_id, n, overlap, ref_total, cand_total, recall,
    precision, f1) — one row per pair per n in {1, 2}.
    """
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"), tokenize(F.col(text_col)).alias("_ws")
    )
    uni = base.select(
        "_id", F.lit(1).cast("bigint").alias("n"),
        F.explode("_ws").alias("gram"),
    )
    ws = F.col("_ws")
    bi_arr = F.transform(
        F.slice(ws, 1, F.size(ws) - 1),
        lambda x, i: F.concat(x, F.lit(" "), F.element_at(ws, i + F.lit(2))),
    )
    bi = base.filter(F.size("_ws") >= 2).select(
        "_id", F.lit(2).cast("bigint").alias("n"),
        F.explode(bi_arr).alias("gram"),
    )
    grams = uni.unionByName(bi)
    # three consumers (overlap ref side, overlap cand side, totals) —
    # materialize the per-doc gram counts once or each consumer rebuilds
    # the full corpus explode+aggregate (12 doc scans in rouge_pairs
    # without it, 4 with it); GC-released with the frame
    gc = (
        grams.groupBy("_id", "n", "gram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = gc.groupBy("_id", "n").agg(
        F.sum("cnt").cast("bigint").alias("total")
    )
    # TWO consumers of the pair table (the overlap join and the
    # pair×n skeleton), so without a checkpoint the whole upstream
    # pair pipeline is planned twice — for the LSH-candidate callers
    # (rouge_verify / bleu_verify) that re-executed the full
    # signature+banding stack per consumer (the 64-permutation
    # signature aggregate appeared twice in the plan).  The pair
    # table is bounded by contract, so the lazy checkpoint is cheap.
    # Caveat: a localCheckpoint pins the pair table
    # unreplicated on executors and truncates lineage — executor loss
    # after materialization fails the job instead of recomputing; fine
    # for a bounded control table, part of the documented trade.
    p = pairs.select(
        F.col(ref_col).alias("ref_id"), F.col(cand_col).alias("cand_id")
    ).localCheckpoint(eager=False)
    ov = (
        p.join(
            gc.select(
                F.col("_id").alias("ref_id"), "n", "gram",
                F.col("cnt").alias("_cr"),
            ),
            on="ref_id",
        )
        .join(
            gc.select(
                F.col("_id").alias("cand_id"), "n", "gram",
                F.col("cnt").alias("_cc"),
            ),
            on=["cand_id", "n", "gram"],
        )
        .groupBy("ref_id", "cand_id", "n")
        .agg(F.sum(F.least("_cr", "_cc")).cast("bigint").alias("overlap"))
    )
    skel = p.crossJoin(
        F.broadcast(
            p.sparkSession.range(1, 3).select(
                F.col("id").cast("bigint").alias("n")
            )
        )
    )
    res = (
        skel.join(
            tot.select(F.col("_id").alias("ref_id"), "n",
                       F.col("total").alias("_tr")),
            on=["ref_id", "n"], how="left",
        )
        .join(
            tot.select(F.col("_id").alias("cand_id"), "n",
                       F.col("total").alias("_tc")),
            on=["cand_id", "n"], how="left",
        )
        .join(ov, on=["ref_id", "cand_id", "n"], how="left")
        .select(
            "ref_id", "cand_id", "n",
            F.coalesce(F.col("overlap"), F.lit(0))
            .cast("bigint").alias("overlap"),
            F.coalesce(F.col("_tr"), F.lit(0)).cast("bigint")
            .alias("ref_total"),
            F.coalesce(F.col("_tc"), F.lit(0)).cast("bigint")
            .alias("cand_total"),
        )
    )
    ovd = F.coalesce(F.col("overlap"), F.lit(0)).cast("double")
    return res.select(
        "ref_id", "cand_id", "n", "overlap", "ref_total", "cand_total",
        F.round(
            ovd / F.nullif(F.col("ref_total").cast("double"), F.lit(0.0)), 9
        ).alias("recall"),
        F.round(
            ovd / F.nullif(F.col("cand_total").cast("double"), F.lit(0.0)), 9
        ).alias("precision"),
        F.round(
            F.lit(2.0) * ovd
            / F.nullif(
                (F.col("ref_total") + F.col("cand_total")).cast("double"),
                F.lit(0.0),
            ),
            9,
        ).alias("f1"),
    )


def rouge_n_oracle_sql(pairs_sql: str) -> str:
    """DuckDB replay of :func:`rouge_n` over ``documents``;
    ``pairs_sql`` is a query selecting (ref_id, cand_id)."""
    return f"""
        WITH p AS ({pairs_sql}),
        w AS (
          SELECT doc_id AS id,
                 {tokenize_sql()} AS wl
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT id, CAST(1 AS BIGINT) AS n, u.g AS gram
          FROM w, unnest(wl) AS u(g)
          UNION ALL
          SELECT id, CAST(2 AS BIGINT) AS n,
                 wl[r.i] || ' ' || wl[r.i + 1] AS gram
          FROM w, unnest(range(1, len(wl))) AS r(i)
          WHERE len(wl) >= 2
        ), gc AS (
          SELECT id, n, gram, CAST(count(*) AS BIGINT) AS cnt
          FROM grams GROUP BY id, n, gram
        ), tot AS (
          SELECT id, n, CAST(sum(cnt) AS BIGINT) AS total
          FROM gc GROUP BY id, n
        ), ov AS (
          SELECT p.ref_id, p.cand_id, a.n,
                 CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS overlap
          FROM p
          JOIN gc a ON a.id = p.ref_id
          JOIN gc b ON b.id = p.cand_id AND b.n = a.n AND b.gram = a.gram
          GROUP BY p.ref_id, p.cand_id, a.n
        ), skel AS (
          SELECT p.ref_id, p.cand_id, CAST(nn.n AS BIGINT) AS n
          FROM p CROSS JOIN (VALUES (1), (2)) AS nn(n)
        ), res AS (
          SELECT s.ref_id, s.cand_id, s.n,
                 CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
                 CAST(coalesce(tr.total, 0) AS BIGINT) AS ref_total,
                 CAST(coalesce(tc.total, 0) AS BIGINT) AS cand_total
          FROM skel s
          LEFT JOIN tot tr ON tr.id = s.ref_id AND tr.n = s.n
          LEFT JOIN tot tc ON tc.id = s.cand_id AND tc.n = s.n
          LEFT JOIN ov ON ov.ref_id = s.ref_id
                      AND ov.cand_id = s.cand_id AND ov.n = s.n
        )
        SELECT ref_id, cand_id, n, overlap, ref_total, cand_total,
               round(CAST(overlap AS DOUBLE)
                     / nullif(CAST(ref_total AS DOUBLE), 0.0), 9) AS recall,
               round(CAST(overlap AS DOUBLE)
                     / nullif(CAST(cand_total AS DOUBLE), 0.0), 9)
                 AS precision,
               round(2.0 * CAST(overlap AS DOUBLE)
                     / nullif(CAST(ref_total + cand_total AS DOUBLE), 0.0),
                     9) AS f1
        FROM res"""


def fastss_ed1_pairs(
    df: DataFrame, col: str = "c_name"
) -> DataFrame:
    """All DISTINCT value pairs at Levenshtein distance exactly 1 via
    the FastSS deletion-neighborhood join (Bocek et al. 2007, "Fast
    Similarity Search in Large Dictionaries") — the fuzzy ID / typo
    linkage primitive: two strings are within edit distance 1 iff
    they share a member of their 1-deletion neighborhoods (the string
    itself plus every single-character deletion), so the candidate
    stage is a plain hash EQUI-join on the variant key instead of an
    all-pairs theta join.

    Scale shape: each value of length L explodes to L+1 variants
    (bounded in-row fan-out), each variant's posting list is bounded
    by the alphabet size (only |alphabet| strings map onto a given
    deletion skeleton at one position), so candidate pairs per variant
    are O(|alphabet|^2) regardless of corpus size — the same
    no-all-pairs discipline as MinHash banding, for edit distance.
    The exact ``levenshtein(a, b) = 1`` gate finishes (both engines
    implement standard Levenshtein, so the filter is
    engine-portable).  Returns (name_a, name_b), name_a < name_b,
    deduplicated (a substitution pair shares one variant but an
    insertion/deletion pair can share two).
    """
    w = F.col(col)
    vocab = (
        df.filter(w.isNotNull())
        .select(w.alias("_w"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # variant i=0 is the identity; i>=1 deletes character i
    variants = F.expr(
        "transform(sequence(0, length(_w)), i -> CASE WHEN i = 0 "
        "THEN _w ELSE concat(substring(_w, 1, i - 1), "
        "substring(_w, i + 1)) END)"
    )
    posts = vocab.select(
        F.explode(variants).alias("_v"), F.col("_w")
    )
    a = posts.select(F.col("_v"), F.col("_w").alias("name_a"))
    b = posts.select(F.col("_v"), F.col("_w").alias("name_b"))
    return (
        a.join(b, on="_v")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
        .filter(F.levenshtein("name_a", "name_b") == 1)
    )


def fastss_ed1_pairs_oracle_sql(
    table: str = "customer", col: str = "c_name"
) -> str:
    """DuckDB replay of ``fastss_ed1_pairs``: the operator is exact,
    so the oracle is the brute-force all-pairs Levenshtein filter
    (length-blocked; ED-1 strings differ in length by at most 1)."""
    return f"""
        WITH v AS (
          SELECT DISTINCT {col} AS w FROM {table}
          WHERE {col} IS NOT NULL
        )
        SELECT a.w AS name_a, b.w AS name_b
        FROM v a JOIN v b
          ON a.w < b.w
         AND len(b.w) BETWEEN len(a.w) - 1 AND len(a.w) + 1
        WHERE levenshtein(a.w, b.w) = 1
    """


def heaps_law_fit(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heaps'-law vocabulary-growth curve and log-log slope fit: the
    distinct-word count V(n) at ten corpus prefixes (by ``id_col``
    value deciles — NO global sort/rank, so no single-partition
    window: each word needs only its min doc id, each prefix count is
    a conditional aggregate) plus the least-squares exponent beta of
    ln V ~ alpha + beta ln n.  The corpus-statistics companion of the
    TF-IDF absolute-df-cap study (tools/heaps_recall.py): beta is the
    measured vocabulary-growth rate that makes an absolute df cap
    safe on real corpora.

    Exactness: ln values quantize to 1e-9 integer units in BOTH
    engines before any aggregation (ties at the 0.5-unit boundary
    would need the engines' libm to differ by ~1e-10 relative — 20
    values, negligible), the regression moments accumulate as
    DECIMAL(38,0)/HUGEINT (products of 1e10-unit values overflow
    int64), and beta is ONE final double division.  Returns ten rows
    (k, n_docs, vocab, beta) with beta constant.
    """
    d = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(text_col).alias("_t"),
    )
    m = d.agg((F.max("_id") + 1).cast("bigint").alias("_M"))
    firsts = (
        d.select("_id", F.explode(tokenize(F.col("_t"))).alias("_w"))
        .groupBy("_w")
        .agg(F.min("_id").alias("_fid"))
    )

    def bin_col(idc):
        # smallest k in 1..10 with id < (M*k) DIV 10, else 10 —
        # integer thresholds spelled identically in the oracle
        c = None
        for k in range(1, 10):
            cond = idc < F.expr(f"(_M * {k}) DIV 10")
            c = F.when(cond, k) if c is None else c.when(cond, k)
        return c.otherwise(10).cast("bigint")

    wb = (
        firsts.crossJoin(F.broadcast(m))
        .select(bin_col(F.col("_fid")).alias("_bin"))
        .groupBy("_bin")
        .agg(F.count("*").cast("bigint").alias("_wc"))
    )
    db = (
        d.crossJoin(F.broadcast(m))
        .select(bin_col(F.col("_id")).alias("_bin"))
        .groupBy("_bin")
        .agg(F.count("*").cast("bigint").alias("_dc"))
    )
    spark = docs.sparkSession
    ck = spark.createDataFrame([(k,) for k in range(1, 11)], "k bigint")
    cum = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # ten rows total: the single-partition cumulative window is a
    # bounded control-flow aggregate, not a data-bearing funnel
    ten = (
        ck.join(wb, ck.k == wb._bin, "left")
        .join(db, ck.k == db._bin, "left")
        .select(
            "k",
            F.coalesce("_dc", F.lit(0)).alias("_dc"),
            F.coalesce("_wc", F.lit(0)).alias("_wc"),
        )
        .select(
            "k",
            F.sum("_dc").over(cum).cast("bigint").alias("n_docs"),
            F.sum("_wc").over(cum).cast("bigint").alias("vocab"),
        )
        .localCheckpoint(eager=False)  # consumed by fit + output
    )
    xu = F.round(
        F.log(F.greatest(F.col("n_docs"), F.lit(1)).cast("double"))
        * 1_000_000_000
    ).cast("bigint")
    yu = F.round(
        F.log(F.greatest(F.col("vocab"), F.lit(1)).cast("double"))
        * 1_000_000_000
    ).cast("bigint")
    dec = "decimal(38,0)"
    pts = ten.select(xu.alias("_x"), yu.alias("_y"))
    fit = pts.agg(
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum((F.col("_x").cast(dec) * F.col("_y")).cast(dec)).alias("_sxy"),
        F.sum((F.col("_x").cast(dec) * F.col("_x")).cast(dec)).alias("_sxx"),
    ).select(
        (
            (F.lit(10).cast(dec) * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
            .cast("double")
            / (F.lit(10).cast(dec) * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
            .cast("double")
        ).alias("beta")
    )
    return ten.crossJoin(F.broadcast(fit)).select(
        "k", "n_docs", "vocab", "beta"
    )


def heaps_law_fit_oracle_sql() -> str:
    """DuckDB replay of :func:`heaps_law_fit`: identical tokenization,
    decile thresholds, 1e-9 ln quantization, HUGEINT moments."""
    bins_f = " ".join(
        f"WHEN fid < (M * {k}) // 10 THEN {k}" for k in range(1, 10)
    )
    bins_d = " ".join(
        f"WHEN _id < (M * {k}) // 10 THEN {k}" for k in range(1, 10)
    )
    return f"""
        WITH d AS MATERIALIZED (
          SELECT doc_id AS _id, {tokenize_sql()} AS wl
          FROM documents WHERE text IS NOT NULL
        ), m AS (
          SELECT max(_id) + 1 AS M FROM d
        ), firsts AS (
          SELECT u.w AS w, min(_id) AS fid
          FROM d, unnest(wl) AS u(w)
          GROUP BY u.w
        ), wb AS (
          SELECT (CASE {bins_f} ELSE 10 END) AS bin, count(*) AS c
          FROM firsts, m GROUP BY 1
        ), db AS (
          SELECT (CASE {bins_d} ELSE 10 END) AS bin, count(*) AS c
          FROM d, m GROUP BY 1
        ), ck AS (
          SELECT unnest(range(1, 11)) AS k
        ), ten AS MATERIALIZED (
          SELECT k,
            CAST(coalesce((SELECT sum(c) FROM db WHERE db.bin <= ck.k),
                          0) AS BIGINT) AS n_docs,
            CAST(coalesce((SELECT sum(c) FROM wb WHERE wb.bin <= ck.k),
                          0) AS BIGINT) AS vocab
          FROM ck
        ), pts AS (
          SELECT CAST(round(ln(CAST(greatest(n_docs, 1) AS DOUBLE))
                      * 1000000000) AS BIGINT) AS x,
                 CAST(round(ln(CAST(greatest(vocab, 1) AS DOUBLE))
                      * 1000000000) AS BIGINT) AS y
          FROM ten
        ), fit AS (
          SELECT CAST(10 * sum(CAST(x AS HUGEINT) * y)
                      - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT))
                      AS DOUBLE)
               / CAST(10 * sum(CAST(x AS HUGEINT) * x)
                      - sum(CAST(x AS HUGEINT)) * sum(CAST(x AS HUGEINT))
                      AS DOUBLE) AS beta
          FROM pts
        )
        SELECT k, n_docs, vocab, beta FROM ten, fit
    """


def bpe_learn(
    docs: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``rounds`` byte-pair-encoding merges (Sennrich
    et al. 2016) over the corpus vocabulary — the REAL iterative BPE
    trainer, upgrading the one-shot `bpe_pair_counts`: per round, (1)
    count adjacent symbol pairs weighted by word frequency (every
    adjacency counts, the textbook statistic), (2) pick the most
    frequent pair (count DESC, pair ASC tie-break), (3) merge it
    corpus-wide with LEFTMOST NON-OVERLAPPING semantics.

    The merge is position-based, not string-replace: match positions
    where (tok_i, tok_i+1) equals the winning pair group into runs of
    consecutive positions (runs longer than 1 only when p1 == p2, the
    "a a a" case), and within each run the 1st, 3rd, 5th... match
    merges — exactly the greedy left-to-right scan, spelled as two
    window functions so BOTH engines run the identical algorithm (a
    space-padded replace() would silently skip shared-boundary
    occurrences).

    Everything is per-word: the explode is bounded by word length,
    the windows partition on the word, the winning pair is a
    broadcast 1-row table (no collect), and the per-round state is
    lazily checkpointed (it feeds both the merge and the output row).
    Returns ``rounds`` rows (round, pair, merged, weighted_count).
    """
    out, _seq = _bpe_train(docs, rounds, text_col)
    return out


def _bpe_train(docs: DataFrame, rounds: int, text_col: str):
    """Shared BPE training loop: returns (merge-table DataFrame, final
    per-word token-sequence DataFrame).  :func:`bpe_learn` returns the
    former; :func:`bpe_train_encode` consumes the latter — the
    trainer's final state IS the learned merge list applied to the
    training vocabulary by the same position/run-parity scan, so the
    apply phase costs nothing extra on the train corpus."""
    spark = docs.sparkSession
    wf = (
        _token_rows(docs, text_col, "_wd")
        .groupBy("_wd")
        .agg(F.count("*").cast("bigint").alias("_wt"))
    )
    seq = wf.select(
        "_wd",
        "_wt",
        F.split(
            F.trim(F.regexp_replace(F.col("_wd"), "(.)", "$1 ")), " "
        ).alias("_toks"),
    ).localCheckpoint(eager=False)

    out_rows = []
    for r in range(1, int(rounds) + 1):
        tokpos = seq.select(
            "_wd", "_wt", F.posexplode("_toks").alias("_i", "_tok")
        )
        w_word = Window.partitionBy("_wd").orderBy("_i")
        tp = tokpos.withColumn("_nxt", F.lead("_tok").over(w_word))
        cnts = (
            tp.filter(F.col("_nxt").isNotNull())
            .groupBy(
                F.concat_ws(" ", "_tok", "_nxt").alias("pair")
            )
            .agg(F.sum("_wt").cast("bigint").alias("weighted_count"))
        )
        top1 = (
            cnts.orderBy(
                F.col("weighted_count").desc(), F.col("pair").asc()
            )
            .limit(1)
            .select(
                "pair",
                F.replace(
                    F.col("pair"), F.lit(" "), F.lit("")
                ).alias("merged"),
                "weighted_count",
            )
            .localCheckpoint(eager=False)  # merge + output consumers
        )
        out_rows.append(
            top1.select(
                F.lit(r).cast("bigint").alias("round"),
                "pair",
                "merged",
                "weighted_count",
            )
        )
        # leftmost non-overlapping merge, position/run-parity form
        tb = tp.crossJoin(F.broadcast(top1))
        p1 = F.try_element_at(F.split("pair", " "), F.lit(1))
        p2 = F.try_element_at(F.split("pair", " "), F.lit(2))
        m = tb.filter(
            (F.col("_tok") == p1) & (F.col("_nxt") == p2)
        ).select("_wd", "_i")
        w_m = Window.partitionBy("_wd").orderBy("_i")
        runs = m.withColumn(
            "_grp", F.col("_i") - F.row_number().over(w_m)
        )
        w_run = Window.partitionBy("_wd", "_grp").orderBy("_i")
        kept = runs.withColumn(
            "_rk", F.row_number().over(w_run)
        ).filter(F.col("_rk") % 2 == 1).select(
            "_wd", F.col("_i").alias("_ki")
        )
        # join twice against kept positions: merge-start and absorbed
        starts = kept.select(
            F.col("_wd").alias("_swd"), F.col("_ki").alias("_si")
        )
        absorbs = kept.select(
            F.col("_wd").alias("_awd"),
            (F.col("_ki") + 1).alias("_ai"),
        )
        newtoks = (
            tb.join(
                starts,
                (tb._wd == starts._swd) & (tb._i == starts._si),
                "left",
            )
            .join(
                absorbs,
                (tb._wd == absorbs._awd) & (tb._i == absorbs._ai),
                "left",
            )
            .filter(F.col("_ai").isNull())  # drop absorbed tokens
            .select(
                "_wd",
                "_wt",
                "_i",
                F.when(F.col("_si").isNotNull(), F.col("merged"))
                .otherwise(F.col("_tok"))
                .alias("_tok"),
            )
        )
        seq = (
            newtoks.groupBy("_wd", "_wt")
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("_i", "_tok"))
                    ),
                    lambda s: s._tok,
                ).alias("_toks")
            )
            .localCheckpoint(eager=False)
        )

    out = out_rows[0]
    for extra in out_rows[1:]:
        out = out.unionByName(extra)
    return out, seq


def bpe_train_encode(
    docs: DataFrame,
    rounds: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train ``rounds`` BPE merges on the corpus (:func:`bpe_learn`)
    and ENCODE the same corpus with the learned table — the train→
    apply closure a real tokenizer pipeline needs, upgrading the
    static-merge-table :func:`bpe_apply` to trained merges.

    The apply phase reuses the trainer's final per-word token state:
    applying the learned merge list in order via the position/run-
    parity leftmost-non-overlapping scan is exactly what the trainer
    already did to its own vocabulary, so re-scanning would recompute
    the identical sequences.  Per-doc totals come from joining the
    per-doc term-frequency table to that encoded vocabulary on the
    word key (a word occurring a billion times is encoded once — the
    distinct-vocab scale shape of :func:`bpe_apply`).

    Degenerate corpora with fewer than ``rounds`` distinct adjacent
    pairs inherit :func:`bpe_learn`'s behavior (the empty winner
    empties the state); both engines agree, but callers should train
    only as many rounds as the corpus supports.

    Returns (id, n_words, n_tokens, tokens_per_word) — the
    :func:`bpe_apply` output contract.
    """
    _out, seq = _bpe_train(docs, rounds, text_col)
    dw = _doc_terms(docs, text_col, id_col, "word", "_tf")
    encoded = seq.select(
        F.col("_wd").alias("word"), F.size("_toks").alias("_ntok")
    )
    return (
        dw.join(encoded, on="word")
        .groupBy("_id")
        .agg(
            F.sum("_tf").cast("bigint").alias("n_words"),
            F.sum(F.col("_tf") * F.col("_ntok"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double")
                / F.col("n_words").cast("double"),
                9,
            ).alias("tokens_per_word"),
        )
    )


def bpe_learn_oracle_sql(rounds: int = 3) -> str:
    """DuckDB replay of :func:`bpe_learn`: identical tokenization,
    weighted adjacent-pair counts, (count DESC, pair ASC) winner, and
    the SAME position/run-parity leftmost-non-overlapping merge,
    unrolled one materialized CTE chain per round."""
    parts = _bpe_train_ctes(rounds)
    finals = "\n          UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, pair, merged,"
        f" c AS weighted_count FROM top{r}"
        for r in range(1, int(rounds) + 1)
    )
    return "".join(parts) + "\n        " + finals


def bpe_train_encode_oracle_sql(rounds: int = 3) -> str:
    """DuckDB replay of :func:`bpe_train_encode`: the
    :func:`bpe_learn_oracle_sql` training chain, then per-doc totals
    from joining the per-doc term-frequency table to the final
    encoded vocabulary (seq{rounds})."""
    parts = _bpe_train_ctes(rounds)
    return "".join(parts) + f""", dw AS MATERIALIZED ({_doc_terms_sql("word", "tf")}),
        enc AS MATERIALIZED (
          SELECT wd, len(string_split(sq, ' ')) AS ntok
          FROM seq{int(rounds)}
        )
        SELECT dw.doc_id,
               CAST(sum(dw.tf) AS BIGINT) AS n_words,
               CAST(sum(dw.tf * enc.ntok) AS BIGINT) AS n_tokens,
               round(CAST(sum(dw.tf * enc.ntok) AS DOUBLE)
                     / CAST(sum(dw.tf) AS DOUBLE), 9) AS tokens_per_word
        FROM dw JOIN enc ON dw.word = enc.wd
        GROUP BY dw.doc_id"""


def _bpe_train_ctes(rounds: int) -> list:
    """The shared bpe_learn/bpe_train_encode oracle CTE chain
    (wf, seq0, then tok{r}/top{r}/kept{r}/seq{r} per round)."""
    parts = [
        f"""
        WITH wf AS MATERIALIZED (
          SELECT wd, CAST(count(*) AS BIGINT) AS wt
          FROM ({_token_rows_sql("", "wd")}) GROUP BY wd
        ), seq0 AS MATERIALIZED (
          SELECT wd, wt,
                 trim(regexp_replace(wd, '(.)', '\\1 ', 'g')) AS sq
          FROM wf
        )"""
    ]
    for r in range(1, int(rounds) + 1):
        parts.append(
            f""", tok{r} AS MATERIALIZED (
          SELECT wd, wt, CAST(u.i AS BIGINT) AS i,
                 list_extract(toks, u.i) AS tok,
                 lead(list_extract(toks, u.i))
                   OVER (PARTITION BY wd ORDER BY u.i) AS nxt
          FROM (SELECT wd, wt, string_split(sq, ' ') AS toks
                FROM seq{r-1}),
               unnest(range(1, len(toks) + 1)) AS u(i)
        ), top{r} AS MATERIALIZED (
          SELECT pair, replace(pair, ' ', '') AS merged,
                 CAST(c AS BIGINT) AS c
          FROM (
            SELECT tok || ' ' || nxt AS pair, sum(wt) AS c
            FROM tok{r} WHERE nxt IS NOT NULL GROUP BY 1
          )
          ORDER BY c DESC, pair ASC LIMIT 1
        ), kept{r} AS MATERIALIZED (
          SELECT wd, i FROM (
            SELECT wd, i,
                   row_number() OVER (PARTITION BY wd, grp ORDER BY i)
                     AS rk
            FROM (
              SELECT t.wd, t.i,
                     t.i - row_number() OVER (PARTITION BY t.wd
                                              ORDER BY t.i) AS grp
              FROM tok{r} t, top{r} tp
              WHERE t.tok = split_part(tp.pair, ' ', 1)
                AND t.nxt = split_part(tp.pair, ' ', 2)
            )
          ) WHERE rk % 2 = 1
        ), seq{r} AS MATERIALIZED (
          SELECT t.wd, t.wt,
                 string_agg(CASE WHEN ks.i IS NOT NULL THEN tp.merged
                                 ELSE t.tok END, ' ' ORDER BY t.i) AS sq
          FROM tok{r} t
          CROSS JOIN top{r} tp
          LEFT JOIN kept{r} ks ON ks.wd = t.wd AND ks.i = t.i
          LEFT JOIN kept{r} ka ON ka.wd = t.wd AND ka.i = t.i - 1
          WHERE ka.i IS NULL
          GROUP BY t.wd, t.wt
        )"""
        )
    return parts


def kn_perplexity(
    docs: DataFrame,
    discount: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document perplexity under the corpus-trained interpolated
    Kneser-Ney bigram model — the train→apply closure for the
    `kneser_ney_bigram` model table (the LM-based quality filter a
    pretraining pipeline runs: score every document, drop the
    high-perplexity tail).  The model is the sibling query's exact
    formula, P(w2|w1) = (c12 - d)/c1 + (d*N1+left/c1)*(N1+right/T),
    trained on the scored corpus itself, so every evaluated bigram
    has c12 >= 1 and no backoff path is needed.

    Exactness: P is one mirrored IEEE float chain per bigram TYPE;
    -ln(P) is quantized to integer nano-units per type (the
    quantized-ln-increments house idiom) BEFORE the per-document sum,
    so aggregation is pure int64 — order- and partition-invariant.
    The final ppl = exp(nll/(n*1e9)) is one float op on exact
    integers (last-ulp exp noise sits below the 12-sig-digit gate
    normalization, the woe_encode precedent).

    Scale shape: bigram occurrences checkpoint once (consumed by the
    model aggregation AND the scoring join); the model's context
    tables are vocabulary-sized broadcasts; per-doc totals are one
    hash aggregation.  No UDF, no collect.

    Returns (id, n_bigrams, nll_units, ppl); documents with fewer
    than two words have no bigrams and are absent.
    """
    d = float(discount)
    toks = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokenize(F.col(text_col))).alias("_pos", "_w"),
    )
    wdoc = Window.partitionBy("_id").orderBy("_pos")
    occ = (
        toks.select(
            "_id",
            F.col("_w").alias("w1"),
            F.lead("_w").over(wdoc).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        # two consumers: the model aggregation and the scoring join
        .localCheckpoint(eager=False)
    )
    bi = (
        occ.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c12"))
        # four consumers: c1 / nr / T / model rows
        .localCheckpoint(eager=False)
    )
    c1 = bi.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("_c1"),
        F.count("*").cast("bigint").alias("_nl"),
    )
    nr = bi.groupBy("w2").agg(F.count("*").cast("bigint").alias("_nr"))
    tt = bi.agg(F.count("*").cast("bigint").alias("_T"))
    p = (
        (F.col("c12").cast("double") - F.lit(d))
        / F.col("_c1").cast("double")
        + (F.lit(d) * F.col("_nl").cast("double") / F.col("_c1").cast("double"))
        * (F.col("_nr").cast("double") / F.col("_T").cast("double"))
    )
    model = (
        bi.join(F.broadcast(c1), on="w1")
        .join(F.broadcast(nr), on="w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            F.round(-F.log(p) * F.lit(1e9))
            .cast("bigint")
            .alias("_nllu"),
        )
    )
    return (
        occ.join(model, on=["w1", "w2"])
        .groupBy("_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("_nllu").cast("bigint").alias("nll_units"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_bigrams",
            "nll_units",
            F.exp(
                F.col("nll_units").cast("double")
                / (F.col("n_bigrams").cast("double") * F.lit(1e9))
            ).alias("ppl"),
        )
    )


def kn_perplexity_oracle_sql(discount: float = 0.75) -> str:
    """DuckDB replay of :func:`kn_perplexity`: identical tokenization,
    the sibling kneser_ney_bigram float chain per bigram type, the
    same round(-ln(P)*1e9) nano-unit quantization, integer per-doc
    sums, and the one-float-op perplexity."""
    d = f"CAST({float(discount)!r} AS DOUBLE)"
    return f"""
        WITH toks AS MATERIALIZED (
          SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
                 list_extract(wl, u.i) AS w
          FROM (
            SELECT doc_id,
                   {tokenize_sql()} AS wl
            FROM documents WHERE text IS NOT NULL
          ), unnest(range(1, len(wl) + 1)) AS u(i)
        ), occ AS MATERIALIZED (
          SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, w AS w1,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM toks
          ) WHERE w2 IS NOT NULL
        ), bi AS MATERIALIZED (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM occ GROUP BY w1, w2
        ), c1 AS MATERIALIZED (
          SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                 CAST(count(*) AS BIGINT) AS nl
          FROM bi GROUP BY w1
        ), nr AS MATERIALIZED (
          SELECT w2, CAST(count(*) AS BIGINT) AS nr FROM bi GROUP BY w2
        ), tt AS (
          SELECT CAST(count(*) AS BIGINT) AS T FROM bi
        ), model AS MATERIALIZED (
          SELECT bi.w1, bi.w2,
                 CAST(round(
                   (-ln(
                     (CAST(bi.c12 AS DOUBLE) - {d}) / CAST(c1.c1 AS DOUBLE)
                     + ({d} * CAST(c1.nl AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
                       * (CAST(nr.nr AS DOUBLE) / CAST(tt.T AS DOUBLE))
                   )) * 1e9
                 ) AS BIGINT) AS nllu
          FROM bi JOIN c1 USING (w1) JOIN nr USING (w2) CROSS JOIN tt
        )
        SELECT occ.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(m.nllu) AS BIGINT) AS nll_units,
               exp(CAST(sum(m.nllu) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * 1e9)) AS ppl
        FROM occ JOIN model m ON occ.w1 = m.w1 AND occ.w2 = m.w2
        GROUP BY occ.doc_id"""

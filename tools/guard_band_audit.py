"""Guard-band audit for quantized-transcendental gate columns.

The house exactness style quantizes transcendental-derived values to
integer units (``CAST(round(ln(...) * 1e9) AS BIGINT)``) so downstream
aggregation is exact int64.  Division chains are IEEE-identical between
Spark's JVM libm and DuckDB's libm, but ``ln``/``exp`` are only
ulp-equal: a value whose scaled magnitude sits within ~1 ulp of a
round-half-away boundary (a half-integer) could round differently in
the two engines and flip one integer unit, breaking the exact-integer
gate (r12 ADVICE, kn_perplexity/bartlett_test).

This tool measures, per audited site, the minimum distance of every
pre-round scaled value to its nearest half-integer boundary, expressed
in ulps of the value.  A 1-ulp ``ln`` divergence moves the scaled value
by ~1 ulp of itself, so the margin in ulps is directly the number of
last-place ``ln`` perturbations the quantization tolerates.  The audit
FAILS (exit 1) if any value's margin is below ``--threshold`` (default
16 ulps — 16x the worst cross-libm divergence ever observed here).

Probe SQL mirrors each site's registered DuckDB oracle with the
``round()`` stripped; source locations are cited per site so drift is
checkable.  Run at BOTH gate scales:

    python tools/guard_band_audit.py /root/testdata/sf0.01
    python tools/guard_band_audit.py /root/testdata/sf0.001
    python tools/guard_band_audit.py sf_dir --json GUARDBAND.json
"""

from __future__ import annotations

import json
import math
import sys


def sites() -> dict[str, str]:
    """site name -> SQL yielding one DOUBLE column ``x`` of pre-round
    scaled values (the exact argument of the production ``round()``)."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    sys.path.insert(0, repo)
    from openseize_spark.llm.dedup import normalize_text_sql, tokenize_sql
    from openseize_spark.llm.sampling import HASH_SPACE, salted_hash_sql

    s: dict[str, str] = {}

    # llm/text.py kn_perplexity_oracle_sql (model CTE), discount=0.75
    # as registered; engine twin llm/text.py:kn_perplexity (_nllu).
    s["kn_perplexity.nllu"] = f"""
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
        )
        SELECT (-ln(
                 (CAST(bi.c12 AS DOUBLE) - CAST(0.75 AS DOUBLE))
                   / CAST(c1.c1 AS DOUBLE)
                 + (CAST(0.75 AS DOUBLE) * CAST(c1.nl AS DOUBLE)
                      / CAST(c1.c1 AS DOUBLE))
                   * (CAST(nr.nr AS DOUBLE) / CAST(tt.T AS DOUBLE))
               )) * 1e9 AS x
        FROM bi JOIN c1 USING (w1) JOIN nr USING (w2) CROSS JOIN tt"""

    # openseize_spark/registry/stats.py bartlett_test oracle (per CTE,
    # lnu); engine twin q_bartlett_test (lnu).  n>=2 guard matches
    # production.
    s["bartlett_test.lnu"] = """
        WITH g AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
                   AS s,
                 sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                     * CAST(round(value * 100) AS BIGINT)) AS q
          FROM events WHERE value IS NOT NULL
          GROUP BY 1
          HAVING count(*) >= 2
        )
        SELECT ln(
                 (CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
               ) * 1e9 AS x
        FROM g"""

    # llm/text.py source_divergence_oracle_sql (per-word log-ratio
    # term); engine twin source_divergence (term), scale=1e9.
    s["source_divergence.term"] = f"""
        WITH toks AS (
          SELECT source AS grp, u.w AS w
          FROM (
            SELECT source,
                   string_split({normalize_text_sql()}, ' ') AS wl
            FROM documents WHERE text IS NOT NULL
          ), unnest(wl) AS u(w)
          WHERE len(u.w) > 0
        ), sw AS (
          SELECT grp, w, count(*) AS k FROM toks GROUP BY grp, w
        ), wtot AS (
          SELECT w, sum(k) AS kw FROM sw GROUP BY w
        ), stot AS (
          SELECT grp, sum(k) AS ns FROM sw GROUP BY grp
        ), ctot AS (SELECT sum(k) AS n FROM sw)
        SELECT ln((CAST(sw.k AS DOUBLE) / CAST(stot.ns AS DOUBLE))
                  / (CAST(wtot.kw AS DOUBLE) / CAST(ctot.n AS DOUBLE)))
               * 1000000000.0 AS x
        FROM sw JOIN wtot USING (w) JOIN stot USING (grp) CROSS JOIN ctot"""

    # llm/sampling.py dsir_sample_oracle_sql: per-bucket log-ratio (lr)
    # and per-doc Gumbel key units, as registered (zh / 64 buckets /
    # seed 'dsir' / scale 1e9).
    hw = salted_hash_sql("u.w", "dsir:feat")
    hd = salted_hash_sql("doc_id", "dsir")
    s["dsir_sample.lr"] = f"""
        WITH toks AS (
          SELECT doc_id AS _id, lang AS _tgt, ({hw}) % 64 AS _b
          FROM (
            SELECT doc_id, lang,
                   string_split({normalize_text_sql()}, ' ') AS wl
            FROM documents WHERE text IS NOT NULL
          ), unnest(wl) AS u(w)
          WHERE len(u.w) > 0
        ), raw AS (
          SELECT _b, count(*) AS cr FROM toks GROUP BY _b
        ), tgt AS (
          SELECT _b, count(*) AS ct FROM toks WHERE _tgt = 'zh'
          GROUP BY _b
        ), rt AS (SELECT sum(cr) AS rt FROM raw),
        tt AS (SELECT sum(ct) AS tt FROM tgt)
        SELECT ln(
                 (CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE)
                    / CAST(tt.tt + 64 AS DOUBLE))
                 / (CAST(raw.cr + 1 AS DOUBLE)
                    / CAST(rt.rt + 64 AS DOUBLE))
               ) * 1000000000.0 AS x
        FROM raw LEFT JOIN tgt ON raw._b = tgt._b
        CROSS JOIN rt CROSS JOIN tt"""
    s["dsir_sample.gumbel"] = f"""
        SELECT -ln(-ln(
                 (CAST(({hd}) AS DOUBLE) + 0.5) / {float(HASH_SPACE)!r}
               )) * 1000000000.0 AS x
        FROM documents WHERE text IS NOT NULL"""

    # llm/text.py heaps_law_fit_oracle_sql pts CTE: ln of cumulative
    # doc/vocab counts * 1e9 (20 scalar points, x and y unioned).
    bins_f = " ".join(
        f"WHEN fid < (M * {k}) // 10 THEN {k}" for k in range(1, 10)
    )
    bins_d = " ".join(
        f"WHEN _id < (M * {k}) // 10 THEN {k}" for k in range(1, 10)
    )
    s["heaps_law_fit.xy"] = f"""
        WITH d AS MATERIALIZED (
          SELECT doc_id AS _id,
                 string_split({normalize_text_sql()}, ' ') AS wl
          FROM documents WHERE text IS NOT NULL
        ), m AS (
          SELECT max(_id) + 1 AS M FROM d
        ), firsts AS (
          SELECT u.w AS w, min(_id) AS fid
          FROM d, unnest(wl) AS u(w) WHERE len(u.w) > 0
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
        )
        SELECT ln(CAST(greatest(n_docs, 1) AS DOUBLE)) * 1000000000 AS x
        FROM ten
        UNION ALL
        SELECT ln(CAST(greatest(vocab, 1) AS DOUBLE)) * 1000000000 AS x
        FROM ten"""

    # llm/text.py tfidf-family idf quantization (round(ln(N/df)·1e9)
    # per word; sites text.py:1093/:1435/:1693 share the chain).
    s["tfidf.idf"] = f"""
        WITH toks AS (
          SELECT doc_id, u.w AS w
          FROM (
            SELECT doc_id,
                   string_split({normalize_text_sql()}, ' ') AS wl
            FROM documents WHERE text IS NOT NULL
          ), unnest(wl) AS u(w)
          WHERE len(u.w) > 0
        ), dw AS (
          SELECT DISTINCT doc_id, w FROM toks
        ), dfreq AS (
          SELECT w, count(*) AS df FROM dw GROUP BY w
        ), n AS (
          SELECT count(DISTINCT doc_id) AS n FROM dw
        )
        SELECT ln(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
               * 1000000000.0 AS x
        FROM dfreq, n"""

    # llm/text.py bm25_topk per-(query-term, doc) score quantization
    # (round(idf·tf_factor·1e9)); registered queries/k1/b literals.
    qvals = (
        "(1, 'fast'), (1, 'hash'), (1, 'join'), (2, 'window'),"
        " (2, 'agg'), (2, 'stream'), (3, 'customer'), (3, 'query'),"
        " (3, 'scan')"
    )
    s["bm25.term_score"] = f"""
        WITH toks AS (
          SELECT doc_id, u.w AS word
          FROM (
            SELECT doc_id,
                   string_split({normalize_text_sql()}, ' ') AS wl
            FROM documents WHERE text IS NOT NULL
          ), unnest(wl) AS u(w)
          WHERE len(u.w) > 0
        ), dw AS (
          SELECT doc_id, word, count(*) AS tf FROM toks
          GROUP BY doc_id, word
        ), dl AS (
          SELECT doc_id, sum(tf) AS dl FROM dw GROUP BY doc_id
        ), dfreq AS (
          SELECT word, count(*) AS df FROM dw GROUP BY word
        ), stats AS (
          SELECT count(*) AS n, sum(dl) AS tot FROM dl
        ), qt (query_id, word) AS (VALUES {qvals})
        SELECT ln((CAST(stats.n - dfreq.df AS DOUBLE)
                   + CAST(0.5 AS DOUBLE))
                  / (CAST(dfreq.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
                  + CAST(1.0 AS DOUBLE))
               * (CAST(dw.tf AS DOUBLE) * 2.2
                  / (CAST(dw.tf AS DOUBLE) + 1.2
                     * (0.25 + 0.75
                        * (CAST(dl.dl AS DOUBLE)
                           / (CAST(stats.tot AS DOUBLE)
                              / CAST(stats.n AS DOUBLE))))))
               * 1000000000.0 AS x
        FROM dw
        JOIN qt USING (word)
        JOIN dl USING (doc_id)
        JOIN dfreq USING (word)
        CROSS JOIN stats"""

    # llm/dedup.py sppmi_embed (round-14 registration): the SPPMI
    # units quantization round(greatest(pmi, 0)*1e6) — the single
    # quantized-transcendental site of the embedding closure; clamped
    # zeros sit exactly 0.5 from the nearest half-integer and are
    # margin-safe by construction.  Probe mirrors the registered
    # oracle with the round() stripped (same purchase-graph edges).
    from openseize_spark.llm.dedup import skipgram_cooc_oracle_sql

    _coo = skipgram_cooc_oracle_sql(
        edges_cte="""
          SELECT DISTINCT o_custkey * 2 AS a, l_partkey * 2 + 1 AS b
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
        length=4,
        window=2,
    )
    s["sppmi_embed.units"] = f"""
        SELECT greatest(pmi, CAST(0.0 AS DOUBLE)) * 1000000.0 AS x
        FROM ({_coo})
    """

    return s


def audit_one(con, name: str, sql: str) -> dict:
    rows = con.execute(
        f"SELECT x FROM ({sql}) WHERE x IS NOT NULL"
        " AND isfinite(x)"
    ).fetchall()
    n = len(rows)
    min_ulps = math.inf
    min_x = None
    below_1e3 = 0
    below_1e6 = 0
    for (x,) in rows:
        frac = x - math.floor(x)
        dist = abs(frac - 0.5)
        ulp = math.ulp(abs(x)) if x != 0 else math.ulp(0.5)
        r = dist / ulp
        if r < min_ulps:
            min_ulps, min_x = r, x
        if r < 1e3:
            below_1e3 += 1
        if r < 1e6:
            below_1e6 += 1
    return {
        "site": name,
        "n_values": n,
        "min_margin_ulps": None if n == 0 else min_ulps,
        "argmin_value": min_x,
        "n_below_1e3_ulps": below_1e3,
        "n_below_1e6_ulps": below_1e6,
    }


def main() -> None:
    import duckdb

    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    threshold = 16.0
    if "--threshold" in args:
        i = args.index("--threshold")
        threshold = float(args[i + 1])
        args = args[:i] + args[i + 2 :]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events"
        " documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )

    results = []
    failed = []
    for name, sql in sites().items():
        if only and not any(name.startswith(o) for o in only):
            continue
        r = audit_one(con, name, sql)
        results.append(r)
        m = r["min_margin_ulps"]
        ok = m is None or m >= threshold
        if not ok:
            failed.append(name)
        print(
            f"{'ok  ' if ok else 'FAIL'}  {name}: n={r['n_values']}"
            f" min_margin={'-' if m is None else f'{m:.3g}'} ulps"
            f" (argmin x={r['argmin_value']!r},"
            f" <1e3 ulps: {r['n_below_1e3_ulps']},"
            f" <1e6 ulps: {r['n_below_1e6_ulps']})"
        )

    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "threshold_ulps": threshold,
                 "sites": results},
                f, indent=1,
            )
    if failed:
        print(f"GUARD-BAND FAIL: {failed}")
        sys.exit(1)
    print("all sites clear")


if __name__ == "__main__":
    main()

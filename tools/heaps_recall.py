"""Measure the recall cost of tfidf_cosine_pairs' absolute df cap on a
Heaps-law corpus (r10 verdict order #4).

The sf1 scaling bench is built by key-shifted REPLICATION, which
inflates every term's document frequency uniformly — under replication
the absolute cap (df <= 256) eventually guts recall by construction,
because the SAME discriminative vocabulary is stretched over 10x the
docs.  A real corpus does not behave that way: vocabulary grows with
corpus size (Heaps' law, V ~ K*N^beta with beta ~ 0.5), so
discriminative terms KEEP low df as N grows and the mid-band terms the
cap drops carry little of the cosine mass of qualifying pairs.  That
claim was argued from the literature; this tool measures it.

Corpus model (all public textbook machinery):
  - vocabulary V(N) = ceil(K * N**BETA) words "w0".."w{V-1}"
  - word draws are Zipf(s=1.05) over the vocabulary
  - 200 topics; each doc mixes 30% draws from its topic's 40-word
    mid-rank band (topical structure = the honest stress for the cap,
    since topic words sit exactly in the df band the cap prunes first)
  - 10% of docs are near-duplicates: a copy of a base doc with 15% of
    word positions resampled (these are the pairs dedup must find)

For each N it runs the engine's OWN oracle SQL (uncapped vs capped)
in DuckDB over the generated corpus and reports pair counts,
near-dup-pair recall, all-pair recall, and added-pair count (the cap
can also ADD borderline pairs, because dropping a term shrinks norms).

Usage: python tools/heaps_recall.py [--caps C1,C2,...] [N ...]
       (defaults: caps 2048,1024,512,256; N 5000 20000 50000)

The cap list is a CLI parameter (r11 ADVICE) so the committed tool
reproduces the full round-11 frontier table (2048/1024/512/256) that
justified shipping max_df_abs=512 as the default — no constant edit
needed.  Each capped arm is compared against the shared uncapped run.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

K, BETA, ZIPF_S = 12.0, 0.55, 1.05
TOPICS, TOPIC_BAND, TOPIC_MIX = 200, 40, 0.30
DOC_LEN, DUP_FRAC, MUT_FRAC = 100, 0.10, 0.15
THRESHOLD, MAX_DF_PCT = 0.3, 5
DEFAULT_CAPS = [2048, 1024, 512, 256]


def make_corpus(n: int, rng: np.random.Generator):
    v = int(np.ceil(K * n**BETA))
    ranks = np.arange(1, v + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    p /= p.sum()
    # topic bands live in the mid ranks (10%..60% of the vocabulary):
    # frequent enough to be shared within a topic, rare enough to be
    # informative — exactly the band a df cap prunes first
    lo, hi = int(0.10 * v), int(0.60 * v)
    topic_words = [
        rng.choice(np.arange(lo, hi), size=min(TOPIC_BAND, hi - lo),
                   replace=False)
        for _ in range(TOPICS)
    ]
    n_dup = int(n * DUP_FRAC)
    n_base = n - n_dup
    docs = []
    for i in range(n_base):
        words = rng.choice(v, size=DOC_LEN, p=p)
        tmask = rng.random(DOC_LEN) < TOPIC_MIX
        tw = topic_words[i % TOPICS]
        words[tmask] = rng.choice(tw, size=int(tmask.sum()))
        docs.append(words)
    dup_pairs = []
    for j in range(n_dup):
        src = int(rng.integers(0, n_base))
        words = docs[src].copy()
        mmask = rng.random(DOC_LEN) < MUT_FRAC
        words[mmask] = rng.choice(v, size=int(mmask.sum()), p=p)
        docs.append(words)
        dup_pairs.append((src, n_base + j))
    texts = [" ".join(f"w{w}" for w in d) for d in docs]
    return v, texts, dup_pairs


def run(n: int, workdir: str, caps: list[int]) -> dict:
    import _registry
    import pyarrow as pa
    import pyarrow.parquet as pq

    from openseize_spark.llm import text as llm_text

    rng = np.random.default_rng(42 + n)
    v, texts, dup_pairs = make_corpus(n, rng)
    corpus_dir = os.path.join(workdir, f"heaps_{n}")
    os.makedirs(corpus_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {"doc_id": np.arange(len(texts), dtype=np.int64),
             "text": texts}
        ),
        os.path.join(corpus_dir, "documents.parquet"),
    )
    con = _registry.duckdb_views(corpus_dir, tables=("documents",))
    out = {"N": n, "V": v, "n_dup_pairs": len(dup_pairs)}
    pairs = {}
    arms = [("uncapped", None)] + [
        (f"cap{c}", int(c)) for c in caps
    ]
    for arm, cap in arms:
        sql = llm_text.tfidf_cosine_pairs_oracle_sql(
            threshold=THRESHOLD, max_df_pct=MAX_DF_PCT,
            round_digits=4, max_df_abs=cap,
        )
        t0 = time.time()
        rows = con.execute(
            f"SELECT id_a, id_b FROM ({sql})"
        ).fetchall()
        out[f"sec_{arm}"] = round(time.time() - t0, 2)
        pairs[arm] = set(rows)
        out[f"pairs_{arm}"] = len(rows)
    unc = pairs["uncapped"]
    dset = set(dup_pairs)
    out["dup_found_uncapped"] = len(unc & dset)
    for arm, _cap in arms[1:]:
        cap_ = pairs[arm]
        out[f"recall_all_{arm}"] = round(
            len(unc & cap_) / max(1, len(unc)), 4
        )
        out[f"added_by_{arm}"] = len(cap_ - unc)
        out[f"dup_found_{arm}"] = len(cap_ & dset)
        out[f"recall_dup_{arm}"] = round(
            len(cap_ & dset) / max(1, len(unc & dset)), 4
        )
    return out


def main():
    argv = sys.argv[1:]
    caps = list(DEFAULT_CAPS)
    if "--caps" in argv:
        i = argv.index("--caps")
        if i + 1 >= len(argv):
            sys.exit("usage: --caps requires a comma-separated list")
        caps = [int(c) for c in argv[i + 1].split(",") if c]
        argv = argv[:i] + argv[i + 2:]
    ns = [int(a) for a in argv] or [5000, 20000, 50000]
    workdir = "/tmp/heaps_recall"
    os.makedirs(workdir, exist_ok=True)
    for n in ns:
        print(json.dumps(run(n, workdir, caps)), flush=True)


if __name__ == "__main__":
    main()

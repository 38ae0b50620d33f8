"""Workload ``corpus_dedup``: the registry's ``dedup_clusters``,
``pagerank_sim``, ``minhash_dedup_prod`` and ``corpus_pipeline`` queries
over a seeded corpus with planted near-duplicate clusters.

Each iteration generates its own corpus and writes it as
``<dir>/documents.parquet``, the table the registry's queries read, and
calls the queries from ``__spark_entry__.queries()``.  Cluster members
are long documents that differ from their cluster's base in one word (or
not at all), so every within-cluster 5-shingle Jaccard is far above the
0.8 threshold and LSH recall is near certain; the other documents are
independent draws.  The checks require the planted clusters back
exactly, and replay ``corpus_pipeline``'s dedup, quality filter and
hash split in plain Python.
"""

from __future__ import annotations

import functools
import hashlib
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from openseize_spark.llm.text import STOPWORDS

NAME = "corpus_dedup"
ITEM = "docs"
DOCS = 200
# planted near-duplicate clusters: the same size mix for every seed (40
# documents, 20%), so connected components runs the same number of rounds
CLUSTER_SIZES = (2,) * 6 + (3,) * 4 + (4,) * 4
EXACT_COPY_SHARE = 0.25  # share of cluster variants that are exact copies
VOCAB = 4000
OPS_PER_ITERATION = 2  # queries checked per timed iteration
# the registry queries' parameters, spelled out for the layer pass
K, NUM_HASHES, BANDS, THRESHOLD = 5, 64, 8, 0.8
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@dataclass
class Input:
    dir: Path  # holds documents.parquet
    texts: list  # index = doc_id
    n_chars: list
    clusters: list  # lists of doc ids


def _words(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    return ["".join(rng.choice(letters, size=k)) for k in lens]


def make_input(work: Path, seed: int, i: int) -> Input:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, i, 3])
    vocab = _words(rng, VOCAB)

    def doc(n_words):
        is_stop = rng.random(n_words) < rng.uniform(0.0, 0.2)
        stop = rng.integers(len(STOPWORDS), size=n_words)
        word = rng.integers(VOCAB, size=n_words)
        return [
            STOPWORDS[s] if st else vocab[w] for st, s, w in zip(is_stop, stop, word)
        ]

    groups = []  # token lists; one group per planted cluster or singleton
    for size in CLUSTER_SIZES:
        base = doc(int(rng.integers(100, 150)))
        pos = int(rng.integers(len(base)))
        members = [base]
        for _ in range(size - 1):
            v = list(base)
            if rng.random() >= EXACT_COPY_SHARE:
                v[pos] = vocab[rng.integers(VOCAB)] + "x"  # never equals base[pos]
            members.append(v)
        groups.append(members)
    while sum(len(g) for g in groups) < DOCS:
        groups.append([doc(int(rng.integers(30, 150)))])

    order = rng.permutation(sum(len(g) for g in groups))
    texts = [None] * len(order)
    clusters, k = [], 0
    for g in groups:
        ids = []
        for toks in g:
            texts[int(order[k])] = " ".join(toks)
            ids.append(int(order[k]))
            k += 1
        if len(ids) > 1:
            clusters.append(sorted(ids))
    n_chars = [len(t) for t in texts]
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array([f"src{j % 5}" for j in range(len(texts))], pa.string()),
            "n_chars": pa.array(np.asarray(n_chars, dtype=np.int64)),
        }
    )
    d = work / f"{NAME}_{seed}_{i}"
    d.mkdir(parents=True)
    pq.write_table(tbl, d / "documents.parquet")
    return Input(d, texts, n_chars, clusters)


def items(inp: Input) -> int:
    return len(inp.texts)


# ---------------------------------------------------------------- queries
@functools.cache
def query(name: str):
    """A registry query, ``(spark, dir) -> DataFrame``."""
    import __spark_entry__

    return __spark_entry__.queries()[name]


def _collect(cc, pr, md, cp) -> dict:
    return {
        "clusters": {int(r.doc_id): int(r.component) for r in cc.collect()},
        "pagerank": {
            int(r.doc_id): (int(r.degree), float(r.pagerank)) for r in pr.collect()
        },
        "survivors": {int(r.doc_id) for r in md.collect()},
        "splits": {r.split: (int(r.n_docs), int(r.total_chars)) for r in cp.collect()},
    }


def run(spark, inp: Input):
    """One timed iteration: dedup_clusters and minhash_dedup_prod, each
    collected.  pagerank_sim and corpus_pipeline run in the traced
    layer pass only: with all four queries the JVM needs five or more
    passes before its timings settle, with these two it needs one.
    """
    d = str(inp.dir)
    cc = query("dedup_clusters")(spark, d)
    md = query("minhash_dedup_prod")(spark, d)
    return {
        "clusters": {int(r.doc_id): int(r.component) for r in cc.collect()},
        "survivors": {int(r.doc_id) for r in md.collect()},
    }, {}


def run_layers(spark, inp: Input, tracer, tag: str) -> tuple[dict, dict]:
    """The four queries with one span per package call and outputs
    materialized.  The LSH -> verify chain of dedup_clusters and
    pagerank_sim is spelled out call by call and shared by both;
    minhash_dedup_prod and corpus_pipeline are one call each."""
    from harness import layer

    from pyspark.sql import functions as F

    from openseize_spark.llm import dedup

    d = str(inp.dir)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    docs.persist().count()

    def call(name, fn):
        return layer(tracer, tag, name, fn)

    sigs, _ = call(
        "llm.dedup.minhash_signatures",
        lambda: dedup.minhash_signatures(docs, k=K, num_hashes=NUM_HASHES, portable=True),
    )
    cand, n_cand = call(
        "llm.dedup.minhash_lsh_pairs",
        lambda: dedup.minhash_lsh_pairs(sigs, bands=BANDS, portable=True),
    )
    dup, n_dup = call(
        "llm.dedup.jaccard_verify",
        lambda: dedup.jaccard_verify(docs, cand, k=K, threshold=THRESHOLD),
    )
    pairs = dup.select("a", "b")
    cc, _ = call(
        "llm.dedup.connected_components",
        lambda: dedup.connected_components(pairs, include_self_pairs=False),
    )
    pr, _ = call("llm.dedup.pagerank", lambda: dedup.pagerank(pairs, iters=5))
    md, _ = call("llm.dedup.minhash_dedup", lambda: query("minhash_dedup_prod")(spark, d))
    cp, _ = call("llm.corpus_pipeline", lambda: query("corpus_pipeline")(spark, d))
    as_doc = F.col("id").alias("doc_id")
    return _collect(
        cc.select(as_doc, "component"), pr.select(as_doc, "degree", "pagerank"), md, cp
    ), {"lsh_pair_precision": n_dup / n_cand if n_cand else 0.0}


# ---------------------------------------------------------------- checks
def _normalize(s: str) -> str:
    return " ".join(s.lower().strip().split())


def _quality(text: str) -> float:
    """Python replay of ``llm.text.quality_expr``'s arithmetic."""
    n_chars = len(text)
    punct = sum(text.count(p) for p in ".,!?;:")
    pen = 0.5 if punct / max(n_chars, 1) > 0.1 else 1.0
    n = _normalize(text)
    n_tokens = 0 if not n else n.count(" ") + 1
    hits = sum(float(n.count(f" {w} ")) for w in STOPWORDS)
    stop = min(hits / max(n_tokens, 1) * 4.0, 1.0)
    return (min(n_chars / 500.0, 1.0) * 0.5 + stop * 0.5) * pen


def _split(doc_id: int) -> str:
    h = int(hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:8], 16)
    acc, names = 0.0, list(SPLITS)
    for name in names[:-1]:
        acc += SPLITS[name]
        if h < int(acc * (1 << 32)):
            return name
    return names[-1]


def reference(inp: Input) -> dict:
    comp = {d: c[0] for c in inp.clusters for d in c}
    losers = {d for c in inp.clusters for d in c[1:]}
    first = {}
    for d, t in enumerate(inp.texts):
        first.setdefault(hashlib.md5(_normalize(t).encode()).digest(), d)
    splits: dict = {}
    for d in sorted(first.values()):
        if _quality(inp.texts[d]) >= 0.5:
            n, c = splits.get(_split(d), (0, 0))
            splits[_split(d)] = (n + 1, c + inp.n_chars[d])
    degree = {d: len(c) - 1 for c in inp.clusters for d in c}
    return {
        "clusters": comp,
        "degree": degree,
        "survivors": set(range(len(inp.texts))) - losers,
        "splits": splits,
    }


def check(inp: Input, out: dict, ref: dict | None = None) -> list[str]:
    """Checks every query present in ``out``: the timed iteration
    returns clusters and survivors, the traced layer pass all four."""
    ref = reference(inp) if ref is None else ref
    problems = []
    if out["clusters"] != ref["clusters"]:
        problems.append("dedup_clusters did not recover the planted clusters")
    if out["survivors"] != ref["survivors"]:
        problems.append(
            f"minhash_dedup kept {len(out['survivors'])} docs, want {len(ref['survivors'])}"
        )
    if "pagerank" in out:
        got_deg = {d: deg for d, (deg, _) in out["pagerank"].items()}
        if got_deg != ref["degree"]:
            problems.append("pagerank_sim graph differs from the planted clusters")
        elif abs(sum(p for _, p in out["pagerank"].values()) - 1.0) > 1e-6:
            problems.append("pagerank_sim ranks do not sum to 1")
    if "splits" in out and out["splits"] != ref["splits"]:
        problems.append(f"corpus_pipeline splits {out['splits']} != {ref['splits']}")
    return problems


def corrupt(out: dict) -> dict:
    bad = dict(out)
    bad["survivors"] = set(out["survivors"]) | {-1}
    return bad

"""Property-based invariants (hypothesis) — the randomized-testing analog
of the reference's seeded sweeps (reference: tests/test_producer.py:303-368,
tests/test_protools.py:19-56).  Small inputs, few examples: each example
runs real Spark jobs."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from openseize_spark.operators import fir as op_fir
from openseize_spark.operators import relational as rel
from openseize_spark.dsp import design, kernels
from openseize_spark.signal import SignalFrame

N = 200

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _sf(spark, x):
    rows = [("r0", 0, int(t), float(v)) for t, v in enumerate(x)]
    df = spark.createDataFrame(
        rows, "recording_id string, channel int, t bigint, v double"
    )
    return SignalFrame(df=df, fs=100.0)


def _vals(sf):
    out = sf.df.orderBy("t").collect()
    assert [r.t for r in out] == list(range(len(out))), "t must be re-indexed dense"
    return np.array([r.v for r in out])


@st.composite
def signal_arrays(draw):
    n = draw(st.integers(min_value=20, max_value=N))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    return np.random.default_rng(seed).normal(size=n)


class TestSliceProperty:
    @given(x=signal_arrays(), data=st.data())
    @settings(**SETTINGS)
    def test_slice_equals_numpy(self, spark, x, data):
        n = len(x)
        start = data.draw(st.integers(0, n - 1))
        stop = data.draw(st.integers(start + 1, n))
        step = data.draw(st.integers(1, 7))
        out = rel.slice_time(_sf(spark, x), start=start, stop=stop, step=step)
        np.testing.assert_allclose(_vals(out), x[start:stop:step], atol=0)


class TestMaskProperty:
    @given(x=signal_arrays(), data=st.data())
    @settings(**SETTINGS)
    def test_mask_equals_numpy(self, spark, x, data):
        import pandas as pd

        n = len(x)
        seed = data.draw(st.integers(0, 2**31 - 1))
        keep = np.random.default_rng(seed).random(n) < data.draw(
            st.floats(0.1, 0.9)
        )
        sf = _sf(spark, x)
        mask = spark.createDataFrame(
            pd.DataFrame({"recording_id": "r0", "t": np.arange(n), "keep": keep})
        )
        out = rel.apply_mask(sf, mask)
        np.testing.assert_allclose(_vals(out), x[keep], atol=0)


class TestPadProperty:
    @given(x=signal_arrays(), data=st.data())
    @settings(**SETTINGS)
    def test_pad_then_interior_slice_roundtrips(self, spark, x, data):
        left = data.draw(st.integers(0, 10))
        right = data.draw(st.integers(0, 10))
        padded = rel.pad(_sf(spark, x), left, right, 0.0)
        back = rel.slice_time(padded, start=left, stop=left + len(x), step=1)
        np.testing.assert_allclose(_vals(back), x, atol=0)
        assert padded.df.count() == len(x) + left + right


class TestFirProperty:
    @given(x=signal_arrays(), data=st.data())
    @settings(**SETTINGS)
    def test_sql_fir_equals_numpy_any_taps(self, spark, x, data):
        ntaps = data.draw(st.integers(1, 6)) * 2 + 1  # odd, 3..13
        seed = data.draw(st.integers(0, 2**31 - 1))
        taps = np.random.default_rng(seed).normal(size=ntaps)
        spec = design.FirSpec(
            taps=taps, fs=100.0, btype="custom", fpass=(), fstop=()
        )
        out = op_fir.apply_fir_sql(_sf(spark, x), spec, mode="same")
        want = kernels.convolve(x, taps, "same")
        np.testing.assert_allclose(_vals(out), want, atol=1e-10)


# ---- round-5 corpus-operator invariants ----

_word = st.text(alphabet="abcdef", min_size=1, max_size=4)
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)


@given(texts=st.lists(_doc, min_size=1, max_size=6), c=st.integers(1, 4))
@settings(**SETTINGS)
def test_chunk_dedup_identity_when_threshold_high(spark, texts, c):
    """With max_docs >= corpus size nothing is boilerplate: every doc
    with at least one word reassembles to exactly its normalized text."""
    from openseize_spark.llm import dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {
        r.doc_id: r.text_deduped
        for r in dedup.chunk_dedup(df, chunk_words=c, max_docs=len(texts)).collect()
    }
    for i, t in enumerate(texts):
        normalized = " ".join(t.split())
        if normalized:
            assert out[i] == normalized
        else:
            assert i not in out


@given(
    texts=st.lists(_doc.filter(lambda t: t.strip()), min_size=1, max_size=5),
)
@settings(**SETTINGS)
def test_unigram_logprob_bounds(spark, texts):
    """Scores are >= 0 (p <= 1 for every word) and n_tokens sums to the
    corpus token count."""
    from openseize_spark.llm import text as llm_text

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = llm_text.unigram_logprob(df).collect()
    assert all(r.score >= 0 for r in rows)
    assert sum(r.n_tokens for r in rows) == sum(len(t.split()) for t in texts)


class TestDocChunksProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_full_coverage_and_bounds(self, spark, data):
        from openseize_spark.llm.text import doc_chunks

        n_words = data.draw(st.integers(1, 120))
        W = data.draw(st.integers(2, 16))
        S = data.draw(st.integers(1, W))
        words = [f"w{i}" for i in range(n_words)]
        df = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )
        rows = sorted(
            doc_chunks(df, chunk_words=W, stride=S).collect(),
            key=lambda r: r.chunk_idx,
        )
        # starts strictly ascending, all within bounds
        starts = [r.start_word for r in rows]
        assert starts == sorted(set(starts))
        assert all(1 <= s <= max(n_words - W + 1, 1) for s in starts)
        # every word covered by at least one chunk
        covered = set()
        for r in rows:
            covered.update(range(r.start_word, r.start_word + r.n_words))
        assert covered == set(range(1, n_words + 1))
        # no chunk exceeds W words; reassembled text matches the slice
        for r in rows:
            assert 1 <= r.n_words <= W
            assert r.chunk_text.split() == words[r.start_word - 1 : r.start_word - 1 + r.n_words]


class TestBpeApplyProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_bpe(self, spark, data):
        from openseize_spark.llm.text import bpe_apply

        # random words over a tiny alphabet + random merge chain
        n_words = data.draw(st.integers(1, 12))
        words = [
            "".join(
                data.draw(st.sampled_from("ab"))
                for _ in range(data.draw(st.integers(1, 6)))
            )
            for _ in range(n_words)
        ]
        merges = [("a", "a"), ("b", "b"), ("aa", "b"), ("a", "bb")]
        df = spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        )

        def encode(word):
            toks = list(word)
            for a, b in merges:
                out = []
                i = 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(toks[i])
                        i += 1
                toks = out
            return len(toks)

        got = bpe_apply(df, merges).collect()[0]
        assert got.n_tokens == sum(encode(w) for w in words)
        assert got.n_words == len(words)


class TestTfidfCosinePairsProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_brute_force(self, spark, data):
        import math

        from openseize_spark.llm.text import tfidf_cosine_pairs

        n_docs = data.draw(st.integers(2, 6))
        vocab = ["apple", "boat", "cat", "door", "echo"]
        docs = [
            (
                i,
                " ".join(
                    data.draw(st.sampled_from(vocab))
                    for _ in range(data.draw(st.integers(1, 8)))
                ),
            )
            for i in range(n_docs)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in tfidf_cosine_pairs(
                df, threshold=0.0, max_df_pct=100, round_digits=4
            ).collect()
        }

        # python replay: same integer units, df cut disabled
        tf = [{} for _ in range(n_docs)]
        for i, (_, t) in enumerate(docs):
            for w in t.split():
                tf[i][w] = tf[i].get(w, 0) + 1
        dfreq = {}
        for d in tf:
            for w in d:
                dfreq[w] = dfreq.get(w, 0) + 1
        su = [
            {
                w: k * round(math.log(n_docs / dfreq[w]) * 1e4)
                for w, k in d.items()
            }
            for d in tf
        ]
        for a in range(n_docs):
            for b in range(a + 1, n_docs):
                dot = sum(su[a][w] * su[b][w] for w in su[a] if w in su[b])
                na = sum(v * v for v in su[a].values())
                nb = sum(v * v for v in su[b].values())
                if dot == 0 or na == 0 or nb == 0:
                    # zero weights (uniform corpus word) or no overlap:
                    # the operator only emits dot>0 pairs above threshold
                    continue
                exp = round(dot / math.sqrt(na * nb), 9)
                # python/JVM log can differ by 1 ulp, flipping a 1e4-unit
                # idf at a round boundary and moving the cosine by ~1e-4;
                # exactness vs DuckDB is pinned by the BITEXACT oracle —
                # this property checks structure, so tolerate that drift
                assert abs(got.get((a, b), 0.0) - exp) < 1e-3


class TestLevenshteinVerifyProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_dp(self, spark, data):
        from openseize_spark.llm.dedup import levenshtein_verify

        def lev(x, y):
            prev = list(range(len(y) + 1))
            for i, cx in enumerate(x, 1):
                cur = [i]
                for j, cy in enumerate(y, 1):
                    cur.append(
                        min(
                            prev[j] + 1,
                            cur[j - 1] + 1,
                            prev[j - 1] + (cx != cy),
                        )
                    )
                prev = cur
            return prev[-1]

        texts = [
            "".join(
                data.draw(st.sampled_from("abcd "))
                for _ in range(data.draw(st.integers(1, 20)))
            ).strip()
            or "a"
            for _ in range(3)
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2)], "a long, b long"
        )
        got = {
            (r.a, r.b): r.lev
            for r in levenshtein_verify(df, pairs, threshold=0.0).collect()
        }
        import re

        for a, b in [(0, 1), (0, 2), (1, 2)]:
            na = re.sub(r"\s+", " ", texts[a].strip().lower())
            nb = re.sub(r"\s+", " ", texts[b].strip().lower())
            assert got[(a, b)] == lev(na, nb)


class TestTriangleCountProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_enumeration(self, spark, data):
        from openseize_spark.llm.dedup import triangle_count

        n = data.draw(st.integers(3, 9))
        all_pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
        edges = [
            p for p in all_pairs if data.draw(st.booleans())
        ]
        if not edges:
            edges = [all_pairs[0]]
        es = set(edges)
        exp = {}
        for a in range(n):
            for b in range(a + 1, n):
                for c in range(b + 1, n):
                    if (a, b) in es and (b, c) in es and (a, c) in es:
                        for v in (a, b, c):
                            exp[v] = exp.get(v, 0) + 1
        df = spark.createDataFrame(edges, "a long, b long")
        got = {r.id: r.n_triangles for r in triangle_count(df).collect()}
        assert got == exp


class TestModularityProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_formula(self, spark, data):
        from openseize_spark.llm.dedup import modularity

        n = data.draw(st.integers(3, 9))
        all_pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
        edges = [p for p in all_pairs if data.draw(st.booleans())]
        if not edges:
            edges = [all_pairs[0]]
        nodes = sorted({v for e in edges for v in e})
        lab = {v: data.draw(st.integers(0, 2)) for v in nodes}

        m = len(edges)
        deg = {v: 0 for v in nodes}
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        exp = {}
        for c in sorted(set(lab.values())):
            members = [v for v in nodes if lab[v] == c]
            e_in = sum(1 for a, b in edges if lab[a] == c and lab[b] == c)
            ds = sum(deg[v] for v in members)
            contrib = e_in / m - (ds * ds) / (4 * m * m)
            exp[c] = (len(members), e_in, ds, contrib)

        edf = spark.createDataFrame(edges, "a long, b long")
        ldf = spark.createDataFrame(
            [(v, lab[v]) for v in nodes], "id long, label long"
        )
        got = {r.label: r for r in modularity(edf, ldf).collect()}
        assert set(got) == set(exp)
        for c, (n_nodes, e_in, ds, contrib) in exp.items():
            r = got[c]
            assert (r.n_nodes, r.e_in, r.deg_sum) == (n_nodes, e_in, ds)
            assert abs(r.contribution - contrib) < 1e-9


class TestAssortativityProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_sums(self, spark, data):
        from openseize_spark.llm.dedup import assortativity

        n = data.draw(st.integers(3, 9))
        all_pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
        edges = [p for p in all_pairs if data.draw(st.booleans())]
        if not edges:
            edges = [all_pairs[0], all_pairs[-1]]
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        directed = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
        nn = len(directed)
        sx = sum(deg[a] for a, _ in directed)
        sxx = sum(deg[a] * deg[a] for a, _ in directed)
        sxy = sum(deg[a] * deg[b] for a, b in directed)

        edf = spark.createDataFrame(edges, "a long, b long")
        r = assortativity(edf).collect()[0]
        assert (r.n, r.sum_d, r.sum_d2, r.sum_dxdy) == (nn, sx, sxx, sxy)
        den = nn * sxx - sx * sx
        if den != 0:
            assert abs(r.assortativity - (nn * sxy - sx * sx) / den) < 1e-9
        else:
            # regular graph: zero degree variance, r undefined -> NULL
            assert r.assortativity is None


class TestClusteringBucketsProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_enumeration(self, spark, data):
        from openseize_spark.llm.dedup import clustering_buckets

        n = data.draw(st.integers(3, 9))
        all_pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
        edges = [p for p in all_pairs if data.draw(st.booleans())]
        if not edges:
            edges = [all_pairs[0]]
        es = set(edges)
        deg = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        tri = {}
        for a in range(n):
            for b in range(a + 1, n):
                for c in range(b + 1, n):
                    if (a, b) in es and (b, c) in es and (a, c) in es:
                        for v in (a, b, c):
                            tri[v] = tri.get(v, 0) + 1
        exp = {}
        for v, d in deg.items():
            if d < 2:
                continue
            t = tri.get(v, 0)
            bucket = min(9, (20 * t) // (d * (d - 1)))
            nn, ts = exp.get(bucket, (0, 0))
            exp[bucket] = (nn + 1, ts + t)

        edf = spark.createDataFrame(edges, "a long, b long")
        got = {
            r.bucket: (r.n_nodes, r.sum_tri)
            for r in clustering_buckets(edf).collect()
        }
        assert got == exp


class TestConductanceProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_formula(self, spark, data):
        from openseize_spark.llm.dedup import conductance

        n = data.draw(st.integers(3, 9))
        all_pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
        edges = [p for p in all_pairs if data.draw(st.booleans())]
        if not edges:
            edges = [all_pairs[0]]
        nodes = sorted({v for e in edges for v in e})
        lab = {v: data.draw(st.integers(0, 2)) for v in nodes}
        m = len(edges)
        deg = {v: 0 for v in nodes}
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        exp = {}
        for c in sorted(set(lab.values())):
            members = [v for v in nodes if lab[v] == c]
            e_in = sum(1 for a, b in edges if lab[a] == c and lab[b] == c)
            vol = sum(deg[v] for v in members)
            cut = vol - 2 * e_in
            den = min(vol, 2 * m - vol)
            phi = cut / den if den else None
            exp[c] = (len(members), cut, vol, phi)

        edf = spark.createDataFrame(edges, "a long, b long")
        ldf = spark.createDataFrame(
            [(v, lab[v]) for v in nodes], "id long, label long"
        )
        got = {r.label: r for r in conductance(edf, ldf).collect()}
        assert set(got) == set(exp)
        for c, (n_nodes, cut, vol, phi) in exp.items():
            r = got[c]
            assert (r.n_nodes, r.cut, r.vol) == (n_nodes, cut, vol)
            if phi is None:
                assert r.conductance is None
            else:
                assert abs(r.conductance - phi) < 1e-9


class TestPersonalizedPagerankProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_int_replay(self, spark, data):
        from openseize_spark.llm.dedup import personalized_pagerank

        n = data.draw(st.integers(3, 8))
        all_pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
        edges = [p for p in all_pairs if data.draw(st.booleans())]
        if not edges:
            edges = [all_pairs[0]]
        nodes = sorted({v for e in edges for v in e})
        seeds = [v for v in nodes if data.draw(st.booleans())]
        if not seeds:
            seeds = [nodes[0]]
        S = 10**12
        deg = {v: 0 for v in nodes}
        adj = {v: [] for v in nodes}
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
            adj[a].append(b)
            adj[b].append(a)
        ns = len(seeds)
        u = {v: (S // ns if v in seeds else 0) for v in nodes}
        for _ in range(3):
            inflow = {v: 0 for v in nodes}
            for v in nodes:
                c = u[v] // deg[v]
                for w in adj[v]:
                    inflow[w] += c
            u = {
                v: ((3 * S) // (20 * ns) if v in seeds else 0)
                + (17 * inflow[v]) // 20
                for v in nodes
            }
        exp = {v: (deg[v], x) for v, x in u.items() if x > 0}

        edf = spark.createDataFrame(edges, "a long, b long")
        sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
        got = {
            r.id: (r.degree, r.ppr_units)
            for r in personalized_pagerank(edf, sdf, iters=3).collect()
        }
        assert got == exp


class TestBigramLogprobProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_lm(self, spark, data):
        import math

        from openseize_spark.llm.text import bigram_logprob

        n_docs = data.draw(st.integers(1, 5))
        texts = [
            " ".join(
                data.draw(st.sampled_from(["x", "y", "z"]))
                for _ in range(data.draw(st.integers(1, 8)))
            )
            for _ in range(n_docs)
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = {r.doc_id: r for r in bigram_logprob(df).collect()}

        c12, c1, vocab = {}, {}, set()
        for t in texts:
            ws = t.split()
            vocab.update(ws)
            for p in zip(ws, ws[1:]):
                c12[p] = c12.get(p, 0) + 1
                c1[p[0]] = c1.get(p[0], 0) + 1
        v = len(vocab)
        for i, t in enumerate(texts):
            ws = t.split()
            ps = list(zip(ws, ws[1:]))
            if not ps:
                assert i not in got
                continue
            exp = -sum(
                round(math.log((c12[p] + 1) / (c1[p[0]] + v)) * 1e9)
                for p in ps
            ) / (1e9 * len(ps))
            assert got[i].n_bigrams == len(ps)
            # python's math.log and the JVM's can differ by 1 ulp, which
            # flips the 1e-9-unit quantization at a boundary: each pair
            # contributes at most 1 unit of drift, so the score can move
            # by 1e-9 before its own round(…, 9) — tolerate exactly that
            assert abs(got[i].score - round(exp, 9)) <= 2.1e-9


class TestSourceOverlapProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_sets(self, spark, data):
        from openseize_spark.llm.dedup import source_overlap

        n = 3  # gram size
        docs = []
        for i in range(data.draw(st.integers(2, 6))):
            words = [
                data.draw(st.sampled_from(["p", "q", "r", "s"]))
                for _ in range(data.draw(st.integers(0, 8)))
            ]
            src = data.draw(st.sampled_from(["A", "B", "C"]))
            docs.append((i, " ".join(words), src))
        df = spark.createDataFrame(docs, "doc_id long, text string, source string")
        got = {
            (r.source_a, r.source_b): (r.shared_grams, r.grams_a, r.grams_b)
            for r in source_overlap(df, n=n).collect()
        }

        grams = {}
        for _, t, src in docs:
            ws = t.split()
            for i in range(len(ws) - n + 1):
                grams.setdefault(src, set()).add(" ".join(ws[i : i + n]))
        srcs = sorted(grams)
        exp = {}
        for i, a in enumerate(srcs):
            for b in srcs[i + 1 :]:
                inter = len(grams[a] & grams[b])
                if inter:
                    exp[(a, b)] = (inter, len(grams[a]), len(grams[b]))
        assert got == exp


# ---------------------------------------------------- round-6 operators

_word = st.text(alphabet="abcdefg ", min_size=1, max_size=24)


class TestBloomProperty:
    @given(
        texts=st.lists(_word, min_size=1, max_size=10, unique=True),
        n_bench=st.integers(0, 4),
        m=st.sampled_from([8, 64, 1 << 12]),
    )
    @settings(**SETTINGS)
    def test_no_false_negatives_any_size(self, spark, texts, n_bench, m):
        from openseize_spark.llm import dedup

        n_bench = min(n_bench, len(texts))
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        bench = docs.filter(F.col("doc_id") < n_bench)
        out = {r.doc_id: r.bloom_hit
               for r in dedup.bloom_decontaminate(docs, bench, m=m).collect()}
        # whatever m is, every true member must be flagged; normalized
        # collisions may flag extras, never fewer
        norm_bench = {
            " ".join(texts[i].lower().split()) for i in range(n_bench)
        }
        for i, t in enumerate(texts):
            if " ".join(t.lower().split()) in norm_bench:
                assert out[i] is True, (i, t, m)


class TestGroupReservoirProperty:
    @given(
        n=st.integers(1, 60),
        k=st.integers(1, 7),
        groups=st.integers(1, 5),
    )
    @settings(**SETTINGS)
    def test_exactly_min_k_group_size(self, spark, n, k, groups):
        from openseize_spark.llm import sampling

        docs = spark.createDataFrame(
            [(i, f"t{i}", "xx", f"g{i % groups}", 1) for i in range(n)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = sampling.group_reservoir(docs, ["source"], k=k).collect()
        sizes = {}
        for r in out:
            sizes[r.source] = sizes.get(r.source, 0) + 1
        for g in range(min(groups, n)):
            gsize = len([i for i in range(n) if i % groups == g])
            if gsize:
                assert sizes.get(f"g{g}", 0) == min(k, gsize)


class TestEpochRepeatProperty:
    @given(
        n=st.integers(1, 50),
        e10=st.integers(0, 35),  # epoch factor in tenths: 0.0 .. 3.5
    )
    @settings(**SETTINGS)
    def test_copy_counts_bounded_by_floor_ceil(self, spark, n, e10):
        from openseize_spark.llm import sampling

        e = e10 / 10.0
        docs = spark.createDataFrame(
            [(i, "t", "xx", "s0", 1) for i in range(n)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = sampling.epoch_repeat(docs, {"s0": e}, seed="h").collect()
        per_doc = {}
        for r in out:
            per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
        lo, hi = int(e), int(e) + (1 if e != int(e) else 0)
        for i in range(n):
            c = per_doc.get(i, 0)
            assert lo <= c <= max(lo, hi), (e, c)
        # epoch tags are 1..copies per doc
        tags = {}
        for r in out:
            tags.setdefault(r.doc_id, []).append(r.epoch)
        for d, ts in tags.items():
            assert sorted(ts) == list(range(1, len(ts) + 1))


class TestSortedNeighborhoodProperty:
    @given(n=st.integers(2, 40), w=st.integers(2, 5))
    @settings(**SETTINGS)
    def test_pair_count_formula(self, spark, n, w):
        from openseize_spark.llm import dedup

        docs = spark.createDataFrame(
            [(i, f"k{(i * 13) % 31:03d} tail{i}") for i in range(n)],
            "doc_id long, text string",
        )
        out = dedup.sorted_neighborhood_pairs(docs, window=w).collect()
        want = sum(max(0, n - d) for d in range(1, w))
        assert len(out) == want
        # every pair respects the distance bound and sort order
        for r in out:
            assert 1 <= r.dist <= w - 1
            assert (r.key_a, r.a) <= (r.key_b, r.b)


class TestContainmentProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_shingle_sets(self, spark, data):
        from openseize_spark.llm.dedup import containment_verify

        k = 3
        n_docs = data.draw(st.integers(2, 5))
        texts = [
            "".join(
                data.draw(st.sampled_from("abc "))
                for _ in range(data.draw(st.integers(0, 12)))
            )
            for _ in range(n_docs)
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        pairs = [(a, b) for a in range(n_docs) for b in range(a + 1, n_docs)]
        pdf = spark.createDataFrame(pairs, "a long, b long")
        got = {
            (r.a, r.b): (r.inter, r.n_a, r.n_b, r.cont_a, r.cont_b)
            for r in containment_verify(df, pdf, k=k).collect()
        }

        def shingles(t):
            import re

            s = re.sub(r"\s+", " ", t.lower().strip())
            if len(s) < k:
                # engine semantics: sequence(1, 0) yields [1, 0], and both
                # positions substring to the whole (short) text — a doc
                # shorter than k has the one-element set {text} (the
                # DuckDB oracle's greatest(..., 1) makes the same choice)
                return {s}
            return {s[i : i + k] for i in range(len(s) - k + 1)}

        sets = [shingles(t) for t in texts]
        exp = {}
        for a, b in pairs:
            inter = len(sets[a] & sets[b])
            if inter > 0:
                exp[(a, b)] = (
                    inter,
                    len(sets[a]),
                    len(sets[b]),
                    round(inter / len(sets[a]), 9),
                    round(inter / len(sets[b]), 9),
                )
        assert got == exp


class TestKCenterProperty:
    @given(data=st.data())
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_matches_python_greedy(self, spark, data):
        from openseize_spark.llm.similarity import kcenter_greedy

        n = data.draw(st.integers(4, 10))
        dim = data.draw(st.integers(2, 5))
        seed = data.draw(st.integers(0, 2**31 - 1))
        rng = np.random.default_rng(seed)
        vecs = rng.normal(scale=0.3, size=(n, dim)).astype(np.float32)
        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        k = data.draw(st.integers(2, min(4, n)))
        got = kcenter_greedy(df, k=k, scale=1_000_000)

        # python replica: same quantization, exact integer distances,
        # same (max d2, min id) tiebreak
        def rnd(x):
            import decimal

            return int(
                decimal.Decimal(float(x) * 1_000_000).quantize(
                    0, rounding=decimal.ROUND_HALF_UP
                )
            )

        q = [[rnd(float(np.float64(v))) for v in vecs[i]] for i in range(n)]
        sel = [(1, 0, 0)]
        chosen = [0]
        for r in range(2, k + 1):
            best = None
            for i in range(n):
                d2 = min(
                    sum((a - b) * (a - b) for a, b in zip(q[i], q[c]))
                    for c in chosen
                )
                cand = (-d2, i)
                if best is None or cand < best:
                    best = cand
            sel.append((r, best[1], -best[0]))
            chosen.append(best[1])
        assert got == sel


class TestKmvProperty:
    @given(data=st.data())
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_two_level_merge_equals_sorted_prefix(self, spark, data):
        """The bucketed two-level k-smallest merge inside kmv_distinct
        must equal the 32nd smallest distinct hash computed directly."""
        import hashlib
        import tempfile, os
        import datetime

        import __spark_entry__ as entry

        n_users = data.draw(st.integers(30, 80))
        users = sorted(
            {data.draw(st.integers(1, 10_000)) for _ in range(n_users)}
        )
        t0 = datetime.datetime(2024, 1, 2)
        rows = [
            (i, t0 + datetime.timedelta(seconds=i), u, "click", 1.0, "{}")
            for i, u in enumerate(users)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        got = {
            r.event_type: (r.exact_distinct, r.kth_hash)
            for r in entry.queries()["kmv_distinct"](spark, d).collect()
        }

        def h(u):
            return int(
                hashlib.md5(f"kmv6:{u}".encode()).hexdigest()[:8], 16
            )

        hs = sorted({h(u) for u in users})
        kth = hs[31] if len(hs) >= 32 else None
        assert got == {"click": (len(users), kth)}


class TestSpanCorruptionProperty:
    @given(data=st.data())
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_matches_python_mask_plan(self, spark, data):
        """Span starts, merged coverage, and ratios equal a Python
        replay of the hash-start / fixed-length-3 plan."""
        import hashlib
        import tempfile, os

        import __spark_entry__ as entry
        from openseize_spark.llm.sampling import HASH_SPACE

        n_docs = data.draw(st.integers(1, 5))
        texts = [
            " ".join(
                "w" * data.draw(st.integers(1, 3))
                for _ in range(data.draw(st.integers(1, 20)))
            )
            for _ in range(n_docs)
        ]
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        got = {
            r.doc_id: (r.n_tokens, r.n_spans, r.n_masked)
            for r in entry.queries()["span_corruption"](spark, d).collect()
        }

        cut = HASH_SPACE // 15
        exp = {}
        for i, t in enumerate(texts):
            words = [w for w in " ".join(t.split()).lower().split(" ") if w]
            starts = [
                p
                for p in range(len(words))
                if int(
                    hashlib.md5(f"sc6:{i}:{p}".encode()).hexdigest()[:8], 16
                )
                < cut
            ]
            covered = {
                p
                for s in starts
                for p in range(s, min(s + 3, len(words)))
            }
            exp[i] = (len(words), len(starts), len(covered))
        assert got == exp


class TestMarkovProperty:
    @given(data=st.data())
    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_rows_sum_to_row_totals(self, spark, data):
        """Per-from_type probabilities sum to 1 and counts match a
        Python replay over the ordered event sequences."""
        import tempfile, os
        import datetime
        from collections import Counter

        import __spark_entry__ as entry

        n = data.draw(st.integers(5, 30))
        types = ["a", "b", "c"]
        t0 = datetime.datetime(2024, 1, 2)
        rows = [
            (
                i,
                t0 + datetime.timedelta(seconds=i),
                data.draw(st.integers(1, 3)),
                data.draw(st.sampled_from(types)),
                1.0,
                "{}",
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string",
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        got = {
            (r.from_type, r.to_type): (r.n, r.prob)
            for r in entry.queries()["markov_transitions"](
                spark, d
            ).collect()
        }

        seq = {}
        for eid, ts, uid, et, _, _ in sorted(rows, key=lambda r: (r[1], r[0])):
            seq.setdefault(uid, []).append(et)
        cnt = Counter()
        for s in seq.values():
            for a, b in zip(s, s[1:]):
                cnt[(a, b)] += 1
        rt = Counter()
        for (a, _), c in cnt.items():
            rt[a] += c
        exp = {k: (c, round(c / rt[k[0]], 9)) for k, c in cnt.items()}
        assert got == exp


class TestTheilSenProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_brute_force(self, spark, data):
        """The guarded production helper must reproduce the brute-force
        semantics exactly in BOTH arms: all unordered event pairs with
        distinct timestamps, slope = cent-delta * 1e6 / microsecond-gap,
        median by interpolated percentile.  The drawn ``max_inrow``
        routes users through the in-row expansion (large threshold),
        the rank-self-join fallback (threshold below every history), or
        a mix (threshold inside the count range) — results must be
        identical regardless."""
        import statistics

        from openseize_spark.registry import stats

        rows = []
        eid = 0
        for uid in range(data.draw(st.integers(1, 3))):
            for _ in range(data.draw(st.integers(0, 6))):
                # microsecond timestamps a day past the epoch; draw from
                # a small grid so equal-timestamp pairs actually occur
                t_us = 86_400_000_000 + data.draw(
                    st.integers(0, 4)
                ) * 1_000_000
                cents = data.draw(st.integers(-500, 500))
                rows.append((eid, uid, t_us, cents / 100.0))
                eid += 1
        if not rows:
            return
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, t_us long, value double"
        ).selectExpr(
            "event_id",
            "user_id",
            "timestamp_micros(t_us) as ts",
            "value",
        )

        # 1000: every user in-row; 1: every user through the self-join
        # arm; 3: histories of 4-6 events fall through the guard while
        # smaller ones stay in-row
        max_inrow = data.draw(st.sampled_from([1, 3, 1000]))
        got = {
            r.user_id: (r.n_pairs, r.median_slope_cps)
            for r in stats._theilsen_slope(df, max_inrow=max_inrow).collect()
        }

        exp = {}
        by_user = {}
        for _, uid, t_us, v in rows:
            by_user.setdefault(uid, []).append((t_us, round(v * 100)))
        for uid, evs in by_user.items():
            slopes = [
                (v2 - v1) * 1_000_000 / (t2 - t1)
                for i, (t1, v1) in enumerate(evs)
                for (t2, v2) in evs[i + 1 :]
                if t2 != t1
            ]
            if slopes:
                # statistics.median matches interpolated percentile(0.5)
                # for both odd and even counts
                exp[uid] = (len(slopes), round(statistics.median(slopes), 9))
        assert got == exp


class TestPackingEfficiencyProperty:
    def test_shelf_bins_bracket_ffd_and_lower_bound(self, spark):
        """The bucketed shelf closed form must be a VALID packing (its
        bin count can't beat true first-fit-decreasing run on the same
        capacity-chunked lengths) and FFD in turn can't beat the
        fractional lower bound — so lb_bins <= ffd_bins <= total_bins.
        Run on the real sf0.001 corpus so the brute force sees the
        production length distribution."""
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        rows = entry.queries()["packing_efficiency"](spark, sf).collect()
        assert rows
        g = rows[0]
        # per-bucket shelf arithmetic is internally consistent
        for r in rows:
            assert r.upper_len == (r.bucket + 1) * 16
            assert r.slots_per_bin == 128 // r.upper_len
            assert r.bins * r.slots_per_bin >= r.n_docs
            assert (r.bins - 1) * r.slots_per_bin < r.n_docs
            assert r.waste_tokens == r.bins * 128 - r.sum_len
            assert (g.total_bins, g.lb_bins) == (rows[0].total_bins,
                                                 rows[0].lb_bins)

        # brute-force FFD on the identical chunked lengths
        from openseize_spark.llm import text as llm_text

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        lens = [
            r.len
            for r in docs.filter(F.col("text").isNotNull())
            .select(llm_text.token_count(F.col("text")).alias("len"))
            .filter(F.col("len") > 0)
            .collect()
        ]
        pieces = []
        full = 0
        for n in lens:
            full += n // 128
            if n % 128:
                pieces.append(n % 128)
        bins = []
        for p in sorted(pieces, reverse=True):
            for i, b in enumerate(bins):
                if b + p <= 128:
                    bins[i] = b + p
                    break
            else:
                bins.append(p)
        ffd_bins = len(bins) + full
        assert g.lb_bins <= ffd_bins <= g.total_bins
        assert g.lb_bins == -(-sum(lens) // 128)
        assert 0.0 < g.efficiency <= g.lb_efficiency <= 1.0


class TestCupedStratifiedProperty:
    def test_tiers_partition_users_and_preserve_tier_means(self, spark):
        """Within each tier the CUPED adjustment is mean-preserving:
        sum over arms of n_users * mean_adj equals the same sum of
        mean_post (the correction term telescopes to
        -theta * (sum_x_tier - n_tier * xbar_tier) = 0 because xbar is
        the WITHIN-tier covariate mean).  Tier/arm cells must also
        partition the experiment's user population exactly."""
        import __spark_entry__ as entry
        from openseize_spark.registry import common

        sf = "/root/testdata/sf0.001"
        rows = entry.queries()["cuped_stratified"](spark, sf).collect()
        assert rows
        e = common._events(spark, sf).filter(
            F.col("user_id").isNotNull() & F.col("value").isNotNull()
        )
        n_users = e.select("user_id").distinct().count()
        assert sum(r.n_users for r in rows) == n_users
        assert len({(r.tier, r.arm) for r in rows}) == len(rows)

        from collections import defaultdict

        post = defaultdict(float)
        adj = defaultdict(float)
        for r in rows:
            post[r.tier] += r.n_users * r.mean_post_cents
            adj[r.tier] += r.n_users * r.mean_adj_cents
            assert r.theta is None or np.isfinite(r.theta)
        for tier in post:
            # 9-decimal rounding of the per-arm means bounds the
            # telescoping error by n_users * 5e-10
            assert abs(post[tier] - adj[tier]) <= 1e-6 * max(
                1.0, abs(post[tier])
            )


class TestRougeNProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_counter_brute_force(self, spark, data):
        """rouge_n must equal the textbook clipped-count definition:
        overlap_n = sum over grams of min(count_ref, count_cand), with
        recall/precision/F1 derived by single divisions.  Texts are
        drawn from a 4-word alphabet so clipping (repeated grams) and
        empty-overlap cases actually occur; messy whitespace exercises
        the shared normalization."""
        from collections import Counter

        from openseize_spark.llm import text as llm_text

        words = ["aa", "bb", "cc", "dd"]
        texts = []
        for _ in range(data.draw(st.integers(2, 4))):
            ws = data.draw(st.lists(st.sampled_from(words), max_size=8))
            sep = data.draw(st.sampled_from([" ", "  ", " \t "]))
            texts.append(sep.join(ws))
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        pair_list = [
            (a, b)
            for a in range(len(texts))
            for b in range(len(texts))
            if a != b
        ]
        pairs = spark.createDataFrame(
            pair_list, "ref_id long, cand_id long"
        )
        got = {
            (r.ref_id, r.cand_id, r.n): (
                r.overlap, r.ref_total, r.cand_total,
                r.recall, r.precision, r.f1,
            )
            for r in llm_text.rouge_n(pairs, docs).collect()
        }

        def grams(t, n):
            ws = [w for w in t.lower().strip().split() if w]
            if n == 1:
                return ws
            return [
                " ".join(ws[i : i + 2]) for i in range(len(ws) - 1)
            ]

        exp = {}
        for a, b in pair_list:
            for n in (1, 2):
                cr, cc = Counter(grams(texts[a], n)), Counter(
                    grams(texts[b], n)
                )
                ov = sum(min(v, cc[g]) for g, v in cr.items())
                tr, tc = sum(cr.values()), sum(cc.values())
                exp[(a, b, n)] = (
                    ov, tr, tc,
                    round(ov / tr, 9) if tr else None,
                    round(ov / tc, 9) if tc else None,
                    round(2 * ov / (tr + tc), 9) if tr + tc else None,
                )
        assert got == exp


class TestPrioritySampleProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_brute_force(self, spark, data):
        """Drawn population sizes, weights, and k — including k >= n
        (whole population kept, tau = 0) and heavy weight ties (the
        key tiebreak decides) — must reproduce the exact integer
        priority/tau/estimator arithmetic."""
        import hashlib

        from openseize_spark.llm import sampling

        n = data.draw(st.integers(1, 40))
        k = data.draw(st.integers(1, 12))
        rows = [
            (i, data.draw(st.integers(1, 5)) * 10) for i in range(n)
        ]
        df = spark.createDataFrame(rows, "doc_id long, n_chars long")
        got = {
            r.key: (r.weight, r.priority_units, r.est_weight)
            for r in sampling.priority_sample(
                df, k=k, weight_col="n_chars"
            ).collect()
        }
        HS = 1 << 32
        scored = []
        for key, w in rows:
            h = int(
                hashlib.md5(f"pri:{key}".encode()).hexdigest()[:8], 16
            )
            scored.append((key, w, (w * HS) // (h + 1)))
        scored.sort(key=lambda r: (-r[2], r[0]))
        tau = scored[k][2] if len(scored) > k else 0
        exp = {
            key: (w, q, float(max(w, tau)))
            for key, w, q in scored[:k]
        }
        assert got == exp


class TestBfsDistancesProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_brute_force(self, spark, data):
        """Random small graphs, random seed sets, random hop budgets —
        the frontier expansion must equal a python BFS exactly,
        including unreached nodes being absent and isolated seeds at
        distance zero."""
        n_nodes = data.draw(st.integers(2, 10))
        edges = data.draw(
            st.lists(
                st.tuples(
                    st.integers(0, n_nodes - 1),
                    st.integers(0, n_nodes - 1),
                ).filter(lambda e: e[0] != e[1]),
                min_size=1,
                max_size=15,
                unique=True,
            )
        )
        seeds = data.draw(
            st.lists(
                st.integers(0, n_nodes - 1),
                min_size=1,
                max_size=3,
                unique=True,
            )
        )
        hops = data.draw(st.integers(1, 4))

        from openseize_spark.llm import dedup

        e = spark.createDataFrame(edges, "a long, b long")
        s = spark.createDataFrame([(x,) for x in seeds], "id long")
        got = {
            r.id: r.dist
            for r in dedup.bfs_distances(e, s, max_hops=hops).collect()
        }

        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        dist = {x: 0 for x in seeds}
        frontier = set(seeds)
        for h in range(1, hops + 1):
            nxt = {
                v
                for u in frontier
                for v in adj.get(u, ())
                if v not in dist
            }
            for v in nxt:
                dist[v] = h
            frontier = nxt
        assert got == dist


class TestHitsProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_brute_force(self, spark, data):
        """Random bipartite edge sets and round counts against the
        exact integer recursion (max-normalization via the two-step
        floor division)."""
        edges = data.draw(
            st.lists(
                st.tuples(st.integers(1, 6), st.integers(101, 106)),
                min_size=1,
                max_size=14,
                unique=True,
            )
        )
        iters = data.draw(st.integers(1, 3))

        from openseize_spark.llm import dedup

        df = spark.createDataFrame(sorted(edges), "src long, dst long")
        out = dedup.hits(df, iters=iters).collect()

        S = 10**6
        hubs = {s: S for s, _ in edges}
        auths = {}
        for _ in range(iters):
            raw = {}
            for s, d in edges:
                raw[d] = raw.get(d, 0) + hubs[s]
            m = max(raw.values())
            auths = {d: v // max(m // S, 1) for d, v in raw.items()}
            raw = {}
            for s, d in edges:
                raw[s] = raw.get(s, 0) + auths[d]
            m = max(raw.values())
            hubs = {s: v // max(m // S, 1) for s, v in raw.items()}
        got_h = {r.id: r.score for r in out if r.node_type == "hub"}
        got_a = {r.id: r.score for r in out if r.node_type == "auth"}
        assert got_h == {k: v / 1e6 for k, v in hubs.items()}
        assert got_a == {k: v / 1e6 for k, v in auths.items()}


class TestGramNoveltyProperty:
    @given(data=st.data())
    @settings(**SETTINGS)
    def test_matches_python_brute_force(self, spark, data):
        """Drawn corpora from a tiny alphabet (so cross-doc gram
        collisions actually occur) with drawn n."""
        n = data.draw(st.integers(2, 3))
        words = ["aa", "bb", "cc"]
        texts = []
        for i in range(data.draw(st.integers(1, 5))):
            ws = data.draw(
                st.lists(st.sampled_from(words), max_size=6)
            )
            texts.append((i, " ".join(ws)))

        from openseize_spark.llm import dedup

        df = spark.createDataFrame(texts, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_grams, r.n_novel, r.novelty)
            for r in dedup.gram_novelty(df, n=n).collect()
        }

        def grams(t):
            ws = [w for w in t.lower().strip().split() if w]
            return {
                " ".join(ws[i : i + n])
                for i in range(len(ws) - n + 1)
            }

        gsets = {i: grams(t) for i, t in texts}
        first = {}
        for i in sorted(gsets):
            for g in gsets[i]:
                first.setdefault(g, i)
        exp = {
            i: (
                len(gs),
                sum(1 for g in gs if first[g] == i),
                round(
                    sum(1 for g in gs if first[g] == i) / len(gs), 9
                ),
            )
            for i, gs in gsets.items()
            if gs
        }
        assert got == exp

"""LLM-pipeline operator tests: dedup finds planted duplicates, similarity
search matches numpy brute force, text stats match python oracles."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openseize_spark.llm import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "how vexingly quick daft zebras jump",
        "sphinx of black quartz judge my vow",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t, "en", "src_a"))
    # exact duplicates (different whitespace/case -> same normalized form)
    rows.append((100, "The  quick brown fox jumps over the lazy dog", "en", "src_b"))
    # near duplicate (one word changed)
    rows.append((101, "the quick brown fox jumps over the sleepy dog", "en", "src_b"))
    # unrelated
    rows.append((102, "completely different content about spark engines", "en", "src_c"))
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


class TestDedup:
    def test_exact_dedup(self, docs):
        out = dedup.exact_dedup(docs)
        ids = {r.doc_id for r in out.collect()}
        assert 0 in ids and 100 not in ids  # doc 100 normalizes to doc 0
        counts = {r.doc_id: r.dup_count for r in out.collect()}
        assert counts[0] == 2

    def test_minhash_finds_near_dup(self, docs):
        sigs = dedup.minhash_signatures(docs, k=5, num_hashes=64)
        pairs = dedup.minhash_lsh_pairs(sigs, bands=16)
        got = {(r.a, r.b) for r in pairs.collect()}
        assert (0, 101) in got or (0, 100) in got
        verified = dedup.jaccard_verify(docs, pairs, k=5, threshold=0.5)
        vp = {(r.a, r.b): r.jaccard for r in verified.collect()}
        assert any(b == 101 for (_, b) in vp)

    def test_minhash_dedup_removes_near_dups(self, docs):
        out = dedup.minhash_dedup(docs, k=5, num_hashes=64, bands=16, threshold=0.5)
        ids = {r.doc_id for r in out.collect()}
        assert 0 in ids
        assert 100 not in ids  # exact dup caught
        assert 101 not in ids  # near dup caught
        assert 102 in ids  # unrelated survives

    def test_simhash_similarity(self, docs):
        out = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}

        def ham(a, b):
            return bin(a ^ b).count("1")

        assert ham(out[0], out[101]) < ham(out[0], out[102])

    @pytest.mark.parametrize("portable", [False, True])
    def test_simhash_pairs_pigeonhole_complete(self, docs, portable):
        """Band join must find EVERY pair within max_hamming (pigeonhole
        guarantee) — compare against brute force over all simhashes."""
        d = 8
        hashes = {
            r.doc_id: r.simhash
            for r in dedup.simhash(docs, portable=portable).collect()
        }
        want = {
            (a, b): bin(hashes[a] ^ hashes[b]).count("1")
            for a in hashes
            for b in hashes
            if a < b and bin(hashes[a] ^ hashes[b]).count("1") <= d
        }
        got = {
            (r.a, r.b): r.hamming
            for r in dedup.simhash_pairs(docs, max_hamming=d, portable=portable).collect()
        }
        assert got == want


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(0)
        M = rng.standard_normal((50, 16))
        pdf = pd.DataFrame({"vec_id": np.arange(50), "embedding": list(M.astype(float))})
        df = spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in zip(pdf.vec_id, pdf.embedding)],
            "vec_id long, embedding array<double>",
        )
        return df, M

    def test_cosine_topk_matches_numpy(self, emb):
        df, M = emb
        queries = df.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        corpus = df.filter(F.col("vec_id") >= 2)
        out = similarity.cosine_topk(corpus, queries, k=3).collect()
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn[2:] @ Mn[:2].T
        for q in range(2):
            want = np.argsort(-S[:, q])[:3] + 2
            got = sorted(
                [r for r in out if r.q_id == q], key=lambda r: r.rank
            )
            assert [r.vec_id for r in got] == list(want)

    def test_pandas_topk_agrees(self, emb):
        df, M = emb
        out = similarity.cosine_topk_pandas(
            df.filter(F.col("vec_id") >= 2), M[:2], [0, 1], k=3
        ).collect()
        queries = df.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        ref = similarity.cosine_topk(df.filter(F.col("vec_id") >= 2), queries, k=3).collect()
        a = {(r.q_id, r.rank): r.vec_id for r in out}
        b = {(r.q_id, r.rank): r.vec_id for r in ref}
        assert a == b

    def test_lsh_recall_reasonable(self, emb):
        df, M = emb
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        corpus = df.filter(F.col("vec_id") >= 5)
        exact = similarity.cosine_topk(corpus, queries, k=1).collect()
        # 1 bit -> 2 buckets -> ~half the corpus per candidate set
        approx = similarity.lsh_topk(corpus, queries, k=1, nbits=1, dim=16).collect()
        exact_top = {r.q_id: r.vec_id for r in exact}
        approx_top = {r.q_id: r.vec_id for r in approx}
        hits = sum(approx_top.get(q) == v for q, v in exact_top.items())
        assert hits >= 2  # deterministic given fixed seeds
        # approximate cosine can never beat exact
        exact_cos = {r.q_id: r.cosine for r in exact}
        for r in approx:
            assert r.cosine <= exact_cos[r.q_id] + 1e-12


class TestText:
    def test_token_count(self, docs):
        out = {
            r.doc_id: r.n_tokens
            for r in text.text_stats(docs).collect()
        }
        assert out[0] == 9
        assert out[100] == 9  # double space collapsed

    def test_quality_and_langid_run(self, docs):
        ql = {r.doc_id: r.quality for r in text.quality_score(docs).collect()}
        assert all(0 <= v <= 1 for v in ql.values())
        li = {r.doc_id: r.lang_pred for r in text.language_id(docs).collect()}
        assert li[0] == "en"

    def test_fingerprint_matches_python(self, docs):
        import hashlib
        import re

        out = {r.doc_id: r.fingerprint for r in text.fingerprint(docs).collect()}
        for r in docs.collect():
            norm = re.sub(r"\s+", " ", r.text.strip().lower())
            assert out[r.doc_id] == hashlib.md5(norm.encode()).hexdigest()


class TestMultimodal:
    def test_image_features_plumbing(self, spark):
        from openseize_spark.llm import multimodal

        media = multimodal.synthetic_media(spark, n=12)
        out = multimodal.image_features(media).collect()
        assert len(out) == 4  # every third row is an image
        assert all(0 <= r.mean <= 1 for r in out)

    def test_frame_sample(self, spark):
        from openseize_spark.llm import multimodal

        media = multimodal.synthetic_media(spark, n=6)
        out = multimodal.frame_sample(media, every_n=2).collect()
        vids = {r.media_id for r in out}
        assert all(mid % 3 == 2 for mid in vids)
        assert {r.frame_idx for r in out} == {0, 2, 4, 6, 8}

    def test_resize_images_composes(self, spark):
        from openseize_spark.llm import multimodal

        media = multimodal.synthetic_media(spark, n=12)
        small = multimodal.resize_images(media, 32, 24)
        rows = small.collect()
        assert len(rows) == 4
        for r in rows:
            assert r.meta.width == 32 and r.meta.height == 24
            assert len(r.payload) == 32 * 24
        # composes with image_features on the resized payloads
        feats = multimodal.image_features(small).collect()
        assert len(feats) == 4
        assert all(0 <= r.mean <= 1 for r in feats)

    def test_resize_nearest_neighbor_values(self, spark):
        import numpy as np
        from openseize_spark.llm import multimodal

        media = multimodal.synthetic_media(spark, n=3)
        got = {r.media_id: r for r in multimodal.resize_images(media, 16, 12).collect()}
        src = {r.media_id: r for r in media.collect() if r.kind == "image"}
        for mid, r in got.items():
            img = multimodal._fake_decode(src[mid].payload, 64, 48)
            yi = np.minimum((np.arange(12) * 48) // 12, 47)
            xi = np.minimum((np.arange(16) * 64) // 16, 63)
            want = np.round(img[np.ix_(yi, xi)] * 255.0).astype(np.uint8)
            have = np.frombuffer(r.payload, dtype=np.uint8).reshape(12, 16)
            np.testing.assert_array_equal(have, want)


class TestDecoderSeam:
    def test_injected_decoder_zero_plumbing_changes(self, spark):
        """A real decoder drops in via decode_fn with identical schema and
        batch plumbing — the fake is never consulted."""
        from openseize_spark.llm import multimodal

        media = multimodal.synthetic_media(spark, n=12)

        def flat_decoder(payload, meta):
            import numpy as np

            return np.full((meta["height"], meta["width"]), 0.5)

        out = multimodal.image_features(
            media, deterministic_fake=False, decode_fn=flat_decoder
        )
        rows = out.collect()
        assert out.columns == ["media_id", "mean", "std", "edge_energy"]
        assert len(rows) == 4  # every 3rd synthetic row is an image
        for r in rows:
            assert r.mean == 0.5 and r.std == 0.0 and r.edge_energy == 0.0

    def test_no_decoder_raises(self, spark):
        from openseize_spark.llm import multimodal

        media = multimodal.synthetic_media(spark, n=3)
        out = multimodal.image_features(media, deterministic_fake=False)
        import pytest as _pytest

        with _pytest.raises(Exception, match="inject decode_fn"):
            out.collect()


class TestQualityPrune:
    def test_keeps_rational_fraction_per_group(self, spark):
        # 10 docs in one group, keep 3/10: exactly 3 survive and they are
        # the top-quality ones (ties broken by doc_id)
        rows = [
            (i, "en", "word " * (20 + 40 * i) + "the and of to in is that")
            for i in range(10)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        kept = text.quality_prune(docs, keep_num=3, keep_den=10).collect()
        assert len(kept) == 3
        scores = {
            r.doc_id: r.quality for r in text.quality_score(docs).collect()
        }
        cut = sorted(scores.values(), reverse=True)[2]
        assert all(r.quality >= cut for r in kept)

    def test_integer_cut_no_float_creep(self, spark):
        # 435 docs at 1/5: exactly floor(435/5)=87 kept — the float path
        # (ceil(0.2*435)=ceil(87.0000...1)=88) would keep one extra
        docs = spark.createDataFrame(
            [(i, "g", "text " * (i % 50 + 5)) for i in range(435)],
            "doc_id long, lang string, text string",
        )
        kept = text.quality_prune(docs, keep_num=1, keep_den=5, by_col="lang")
        assert kept.count() == 87


class TestTextQuality:
    def test_repetition_stats_known(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "x y z w")], "doc_id long, text string"
        )
        rows = {r.doc_id: r for r in text.repetition_stats(df, n=3).collect()}
        # doc1: 6 words / 2 distinct; ngrams 'a b a','b a b' x2 -> 4 / 2 distinct
        assert rows[1].n_words == 6 and rows[1].n_ngrams == 4
        assert abs(rows[1].dup_word_frac - (1 - 2 / 6)) < 1e-12
        assert abs(rows[1].dup_ngram_frac - 0.5) < 1e-12
        assert rows[2].dup_word_frac == 0.0
        assert rows[2].n_ngrams == 2 and rows[2].dup_ngram_frac == 0.0

    def test_pii_scan_counts_and_redaction(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail bob@x.io or https://x.io/a from 10.0.0.1 call +1-555-0100"),
                (2, "clean text"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in text.pii_scan(df).collect()}
        r1 = rows[1]
        assert (r1.n_emails, r1.n_urls, r1.n_ips, r1.n_phones) == (1, 1, 1, 1)
        redacted = "mail <EMAIL> or <URL> from <IP> call <PHONE>"
        assert r1.redacted_len == len(redacted)
        assert rows[2].n_emails == 0 and rows[2].redacted_len == len("clean text")


class TestSqlgenMedia:
    def test_payload_is_md5_chain(self, spark):
        import hashlib

        from openseize_spark.llm import multimodal

        m = multimodal.synthetic_media_sqlgen(spark, n=6)
        rows = sorted(m.collect(), key=lambda r: r.media_id)
        assert [r.kind for r in rows] == ["image", "audio", "video"] * 2
        expect = b"".join(hashlib.md5(f"3:{j}".encode()).digest() for j in range(16))
        assert bytes(rows[3].payload) == expect
        assert rows[0].meta.width == 60 and rows[0].meta.height == 44


class TestConnectedComponents:
    def test_chain_exact_vs_one_round(self, spark):
        # chain 1~5, 5~3, 3~9, plus isolated pair 7~8: one-round
        # min-propagation would leave 5 labeled min(1,3)=1 but 9 labeled
        # min(3)=3; the fixpoint labels the whole chain 1.
        pairs = spark.createDataFrame(
            [(1, 5), (5, 3), (3, 9), (7, 8)], "a long, b long"
        )
        got = {
            r.id: r.component for r in dedup.connected_components(pairs).collect()
        }
        assert got == {1: 1, 5: 1, 3: 1, 9: 1, 7: 7, 8: 7}

    def test_two_cliques(self, spark):
        pairs = spark.createDataFrame(
            [(10, 11), (11, 12), (10, 12), (20, 21)], "a long, b long"
        )
        got = {
            r.id: r.component for r in dedup.connected_components(pairs).collect()
        }
        assert got == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def test_long_chain_and_random_vs_union_find(self, spark):
        # star contraction must agree with a driver-side union-find on a
        # 60-node chain (worst case for plain label propagation) plus a
        # random sparse graph
        import random

        rng = random.Random(11)
        edges = [(i, i + 1) for i in range(60)]
        nodes = list(range(100, 160))
        edges += [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = {}

        def find(u):
            parent.setdefault(u, u)
            while parent[u] != u:
                parent[u] = parent[parent[u]]
                u = parent[u]
            return u

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {u: find(u) for u in parent}

        pairs = spark.createDataFrame(edges, "a long, b long")
        got = {
            r.id: r.component for r in dedup.connected_components(pairs).collect()
        }
        assert got == want

    def test_self_pairs_label_as_singletons(self, spark):
        # nodes appearing only as (a, a) never enter the canonical edge
        # set but must still be labeled (their own component); a node in
        # both a self-pair and a real edge keeps its component label
        pairs = spark.createDataFrame(
            [(1, 2), (3, 3), (1, 1)], "a long, b long"
        )
        got = {
            r.id: r.component for r in dedup.connected_components(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 3}

    def test_max_iter_exhaustion_raises(self, spark):
        import pytest as _pytest

        # a 6-node chain cannot reach the star fixed point in one round
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "a long, b long"
        )
        with _pytest.raises(RuntimeError, match="fixed point"):
            dedup.connected_components(pairs, max_iter=1).collect()


class TestRandomProjection:
    def test_deterministic_and_shape(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        vecs = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(20)]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        a = similarity.random_projection(emb, out_dim=4, dim=8).collect()
        b = similarity.random_projection(emb, out_dim=4, dim=8).collect()
        key = lambda rows: sorted((r.vec_id, r.j, r.y) for r in rows)
        assert key(a) == key(b) and len(a) == 20 * 4
        # replays the driver-side sign fold exactly
        signs = similarity._rp_signs(4, 8, "rp")
        want = {}
        for i, v in vecs:
            for j in range(4):
                acc = 0.0
                for d in range(8):
                    acc = acc + signs[j][d] * v[d]
                want[(i, j)] = acc / np.sqrt(4.0)
        assert all(want[(r.vec_id, r.j)] == r.y for r in a)

    def test_distance_preservation_rough(self, spark):
        # JL sanity: squared-distance ratios stay within a loose band
        import numpy as np

        rng = np.random.default_rng(5)
        vecs = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(30)]
        emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = similarity.random_projection(emb, out_dim=16, dim=64).collect()
        proj = {}
        for r in out:
            proj.setdefault(r.vec_id, [0.0] * 16)[r.j] = r.y
        orig = dict(vecs)
        ratios = []
        for i in range(0, 20, 2):
            a, b = i, i + 1
            d0 = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
            d1 = sum((x - y) ** 2 for x, y in zip(proj[a], proj[b]))
            ratios.append(d1 / d0)
        m = sum(ratios) / len(ratios)
        assert 0.5 < m < 1.5  # unbiased up to JL distortion at k=16


class TestKmeans:
    def test_separated_clusters(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        a = rng.normal(0, 0.05, (10, 4)) + np.array([1, 0, 0, 0])
        b = rng.normal(0, 0.05, (10, 4)) + np.array([0, 0, 3, 0])
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        assign, cents = similarity.kmeans_fit(emb, k=2, n_iter=5)
        got = {r.id: r.cell_id for r in assign.collect()}
        # the two geometric clusters must be assigned to distinct cells
        cells_a = {got[i] for i in range(10)}
        cells_b = {got[i] for i in range(10, 20)}
        assert len(cells_a) == 1 and len(cells_b) == 1 and cells_a != cells_b
        cvs = {r.cell_id: np.array(r.cvec) for r in cents.collect()}
        ca = cvs[cells_a.pop()]
        assert abs(ca[0] - 1.0) < 0.05 and abs(ca[2]) < 0.05

    def test_centroids_feed_ivf(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        rows = [
            (i, [float(x) for x in rng.normal(0, 1, 8)]) for i in range(40)
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        _assign, cents = similarity.kmeans_fit(emb, k=4, n_iter=3)
        queries = emb.limit(2).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        out = similarity.ivf_topk(emb, queries, cents, k=3, nprobe=4)
        got = {r.q_id: r for r in out.filter(F.col("rank") == 1).collect()}
        # nprobe = all cells makes IVF exact: top-1 is the query itself
        assert all(got[q].vec_id == q for q in got) and len(got) == 2


class TestTopNgrams:
    def test_counts_and_short_doc_guard(self, spark):
        df = spark.createDataFrame(
            [
                (1, "en", "a b c a b c"),
                (2, "en", "a b"),          # < n words: must emit nothing
                (3, "fr", "x y z"),
            ],
            "doc_id long, lang string, text string",
        )
        got = {(r.lang, r.ngram): (r.cnt, r.rank) for r in
               text.top_ngrams(df, n=3, k=2).collect()}
        assert got[("en", "a b c")] == (2, 1)
        assert got[("fr", "x y z")] == (1, 1)
        # doc 2 contributes no grams; en has exactly 2 ranked rows max
        assert all(r <= 2 for _, r in got.values())


class TestNgramDecontaminate:
    def test_partial_containment_dropped(self, spark):
        # doc 1 quotes the benchmark's 3-gram inside a longer page (exact
        # decontaminate would keep it); doc 2 shares no 3-gram; doc 3 has
        # NULL text (no grams -> kept); doc 4 shares words but never 3
        # in a row
        docs = spark.createDataFrame(
            [
                (1, "intro words the quick brown fox outro words"),
                (2, "completely unrelated content here"),
                (3, None),
                (4, "quick the fox brown the quick"),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "the quick brown fox")], "doc_id long, text string"
        )
        kept = sorted(
            r.doc_id
            for r in dedup.ngram_decontaminate(docs, bench, n=3).collect()
        )
        assert kept == [2, 3, 4]
        exact_kept = sorted(
            r.doc_id for r in dedup.decontaminate(docs, bench).collect()
        )
        assert 1 in exact_kept  # the exact pass misses the containment

    def test_short_docs_have_no_grams(self, spark):
        docs = spark.createDataFrame(
            [(1, "one two"), (2, "one two three")], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(9, "one two three")], "doc_id long, text string"
        )
        kept = sorted(
            r.doc_id
            for r in dedup.ngram_decontaminate(docs, bench, n=3).collect()
        )
        assert kept == [1]  # doc 1 is shorter than n, cannot match


class TestDecontaminate:
    def test_removes_benchmark_matches_only(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox"),
                (2, "some unique document"),
                (3, "The  Quick   Brown Fox"),  # normalizes to doc 1 == benchmark
                (4, "another clean doc"),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "the quick brown fox")], "doc_id long, text string"
        )
        kept = sorted(
            r.doc_id for r in dedup.decontaminate(docs, bench).collect()
        )
        assert kept == [2, 4]  # 1 exact hit, 3 normalized hit, both dropped

    def test_shuffled_fallback_agrees(self, spark):
        docs = spark.createDataFrame(
            [(i, f"text {i % 5}") for i in range(40)], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(0, "text 0"), (1, "text 3")], "doc_id long, text string"
        )
        a = sorted(r.doc_id for r in dedup.decontaminate(docs, bench).collect())
        b = sorted(
            r.doc_id
            for r in dedup.decontaminate(
                docs, bench, broadcast_benchmark=False
            ).collect()
        )
        assert a == b and len(a) == 24  # %5 in {1,2,4} -> 3 of 5 classes


class TestChunkDedup:
    def test_boilerplate_chunk_removed(self, spark):
        # a shared 3-word chunk across two docs is boilerplate; unique
        # chunks survive and reassemble in order
        df = spark.createDataFrame(
            [
                (1, "common header text alpha beta gamma"),
                (2, "common header text delta epsilon zeta"),
                (3, "entirely unique document body here now"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in dedup.chunk_dedup(df, chunk_words=3, max_docs=1).collect()
        }
        assert out[1].text_deduped == "alpha beta gamma"
        assert out[2].text_deduped == "delta epsilon zeta"
        assert out[1].n_kept == 1 and out[1].n_chunks == 2
        # doc 3: both chunks unique (6 words -> 2 chunks)
        assert out[3].n_kept == 2 and out[3].n_chunks == 2
        assert out[3].text_deduped == "entirely unique document body here now"

    def test_fully_boilerplate_doc_drops(self, spark):
        df = spark.createDataFrame(
            [(1, "same text here"), (2, "same text here"), (3, "other words")],
            "doc_id long, text string",
        )
        out = dedup.chunk_dedup(df, chunk_words=3, max_docs=1)
        ids = sorted(r.doc_id for r in out.collect())
        assert ids == [3]

    def test_ragged_tail_chunk(self, spark):
        # 5 words with chunk_words=3 -> chunks of 3 and 2 words
        df = spark.createDataFrame(
            [(1, "one two three four five")], "doc_id long, text string"
        )
        r = dedup.chunk_dedup(df, chunk_words=3, max_docs=1).collect()[0]
        assert r.n_chunks == 2 and r.n_kept == 2
        assert r.text_deduped == "one two three four five"

    def test_max_docs_threshold(self, spark):
        df = spark.createDataFrame(
            [(i, "shared chunk words") for i in range(3)],
            "doc_id long, text string",
        )
        # allow up to 3 docs -> nothing removed
        out = dedup.chunk_dedup(df, chunk_words=3, max_docs=3)
        assert out.count() == 3

    def test_reassembly_inherits_explode_partitioning(self, spark):
        # scale contract: when the surviving-fingerprint side broadcasts
        # (AQE, the common case), the pre-explode repartition on the id
        # is the ONLY id-keyed exchange — Generate and the broadcast
        # join preserve it, so the per-doc reassembly groupBy must not
        # re-shuffle the row-amplified chunk table.  Checked on the AQE
        # FINAL plan (broadcast conversion happens at execution time).
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        df = dedup.chunk_dedup(docs, chunk_words=10, max_docs=1)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # precondition: the assertion below describes the BROADCAST shape
        # of the fingerprint join.  If a conf change in the shared session
        # fixture ever disables auto-broadcast, the join goes shuffle-based
        # and the id-exchange check would fail for the wrong reason — make
        # that precondition failure explicit instead of an opaque plan dump.
        assert "BroadcastHashJoin" in plan, (
            "precondition: surviving-fingerprint join expected to broadcast "
            "at sf0.001 (check spark.sql.autoBroadcastJoinThreshold in the "
            "session fixture); the partitioning assertion only applies to "
            "the broadcast shape"
        )
        # the only id-keyed exchanges allowed are our explicit
        # pre-explode REPARTITION_BY_NUM fan-outs; an ENSURE_REQUIREMENTS
        # id-exchange would mean Catalyst had to re-shuffle the exploded
        # chunk table for the reassembly aggregate
        forced = re.findall(
            r"Exchange hashpartitioning\((?:_id|doc_id)#[^)]*\), ENSURE_REQUIREMENTS",
            plan,
        )
        assert not forced, plan


class TestUnigramLogprob:
    def test_matches_python_lm(self, spark):
        rows = [(1, "a a b"), (2, "a b c"), (3, "c c c c")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in text.unigram_logprob(df).collect()}
        import math

        counts = {"a": 3, "b": 2, "c": 5}
        tot = 10
        for doc_id, t in rows:
            ws = t.split()
            exp = -sum(
                round(math.log(counts[w] / tot) * 1e9) for w in ws
            ) / (1e9 * len(ws))
            assert abs(got[doc_id].score - round(exp, 9)) < 1e-12
            assert got[doc_id].n_tokens == len(ws)

    def test_common_words_score_lower(self, spark):
        rows = [(i, "the the the the") for i in range(9)] + [(99, "zyzzyx")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.score for r in text.unigram_logprob(df).collect()}
        assert got[0] < got[99]  # fluent (frequent) < rare-token soup


class TestBigramLogprob:
    def test_matches_python_lm(self, spark):
        rows = [(1, "a b a b"), (2, "a b c"), (3, "b a")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r for r in text.bigram_logprob(df).collect()}
        import math

        # corpus bigrams: doc1 (a,b)x2 (b,a)x1; doc2 (a,b) (b,c); doc3 (b,a)
        c12 = {("a", "b"): 3, ("b", "a"): 2, ("b", "c"): 1}
        c1 = {"a": 3, "b": 3}
        v = 3  # vocabulary {a, b, c}
        for doc_id, t in rows:
            ws = t.split()
            ps = list(zip(ws, ws[1:]))
            exp = -sum(
                round(math.log((c12[p] + 1) / (c1[p[0]] + v)) * 1e9)
                for p in ps
            ) / (1e9 * len(ps))
            assert abs(got[doc_id].score - round(exp, 9)) < 1e-12
            assert got[doc_id].n_bigrams == len(ps)

    def test_short_docs_absent_and_order_sensitivity(self, spark):
        # same unigram bag, different order -> different bigram scores;
        # the single-token doc has no bigrams and must be absent
        rows = [(1, "x y x y x y"), (2, "x x x y y y"), (3, "x")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.score for r in text.bigram_logprob(df).collect()}
        assert set(got) == {1, 2}
        assert got[1] != got[2]


class TestSemanticDedup:
    def test_near_dup_in_cell_dropped(self, spark):
        # two tight groups around orthogonal axes; centroids = one per axis
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0, 0.0, 0.0]),
                (1, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 0
                (2, [0.0, 0.0, 1.0, 0.0]),
                (3, [0.0, 0.01, 0.999, 0.0]),   # near-dup of 2
                (4, [0.0, 0.0, -1.0, 0.0]),     # same cell as nothing close
            ],
            "vec_id long, embedding array<double>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0]),
             (2, [0.0, 0.0, -1.0, 0.0])],
            "cell_id int, cvec array<double>",
        )
        out = similarity.semantic_dedup(emb, cents, threshold=0.95)
        kept = sorted((r.vec_id, r.cell_id) for r in out.collect())
        assert kept == [(0, 0), (2, 1), (4, 2)]

    def test_threshold_one_keeps_all_distinct(self, spark):
        emb = spark.createDataFrame(
            [(i, [float(i + 1), 1.0]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 1.0])], "cell_id int, cvec array<double>"
        )
        out = similarity.semantic_dedup(emb, cents, threshold=1.1)
        assert out.count() == 4


class TestProductQuantization:
    @pytest.fixture()
    def pq_fixture(self, spark):
        import numpy as np

        rng = np.random.default_rng(5)
        vecs = rng.normal(0, 1, (20, 8))
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        # codebooks: 2 subspaces x 4 dims, 4 codewords each from rows 0-3
        cb_rows = []
        for code in range(4):
            for m in range(2):
                cb_rows.append((m, code, [float(x) for x in vecs[code, m * 4:(m + 1) * 4]]))
        cb = spark.createDataFrame(
            cb_rows, "sub_id int, code int, cvec array<double>"
        )
        return emb, cb, vecs

    def test_encode_matches_numpy_argmin(self, spark, pq_fixture):
        import numpy as np

        emb, cb, vecs = pq_fixture
        got = {
            (r.vec_id, r.sub_id): r.code
            for r in similarity.pq_encode(emb, cb, n_sub=2, sub_dim=4).collect()
        }
        for i in range(20):
            for m in range(2):
                sv = vecs[i, m * 4:(m + 1) * 4]
                cws = vecs[:4, m * 4:(m + 1) * 4]
                exp = int(np.argmin(((cws - sv) ** 2).sum(axis=1)))
                assert got[(i, m)] == exp, (i, m)

    def test_codeword_vectors_encode_to_themselves(self, spark, pq_fixture):
        emb, cb, _ = pq_fixture
        got = {
            (r.vec_id, r.sub_id): r.code
            for r in similarity.pq_encode(
                emb.filter(F.col("vec_id") < 4), cb, n_sub=2, sub_dim=4
            ).collect()
        }
        for i in range(4):
            for m in range(2):
                assert got[(i, m)] == i

    def test_adc_topk_matches_numpy_adc(self, spark, pq_fixture):
        import numpy as np

        emb, cb, vecs = pq_fixture
        queries = spark.createDataFrame(
            [(100, [float(x) for x in vecs[7] + 0.01])],
            "q_id long, q_vec array<double>",
        )
        out = similarity.pq_adc_topk(
            emb, queries, cb, n_sub=2, sub_dim=4, k=3
        ).collect()
        assert len(out) == 3 and all(r.q_id == 100 for r in out)
        # numpy replay: encode corpus, LUT-quantized distance, top-3
        q = vecs[7] + 0.01
        codes = np.zeros((20, 2), dtype=int)
        for i in range(20):
            for m in range(2):
                sv = vecs[i, m * 4:(m + 1) * 4]
                cws = vecs[:4, m * 4:(m + 1) * 4]
                codes[i, m] = int(np.argmin(((cws - sv) ** 2).sum(axis=1)))
        lut = np.zeros((2, 4), dtype=np.int64)
        for m in range(2):
            qs = q[m * 4:(m + 1) * 4]
            for code in range(4):
                cw = vecs[code, m * 4:(m + 1) * 4]
                d2 = qs @ qs - 2 * (qs @ cw) + cw @ cw
                lut[m, code] = round(d2 * 1e9)
        d = np.array([lut[0, codes[i, 0]] + lut[1, codes[i, 1]] for i in range(20)])
        order = np.lexsort((np.arange(20), d))[:3]
        got_ids = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
        assert got_ids == [int(i) for i in order]
        for r in out:
            assert abs(r.approx_d2 - d[r.vec_id] / 1e9) < 1e-12


class TestVocabStats:
    def test_zipf_table(self, spark):
        df = spark.createDataFrame(
            [(1, "a a a b b c"), (2, "a b")], "doc_id long, text string"
        )
        rows = {r.word: r for r in text.vocab_stats(df, top_k=10).collect()}
        # counts: a=4, b=3, c=1; total 8
        assert rows["a"].cnt == 4 and rows["a"].rank == 1
        assert rows["b"].cnt == 3 and rows["b"].rank == 2
        assert rows["c"].cnt == 1 and rows["c"].rank == 3
        assert abs(rows["a"].coverage - 4 / 8) < 1e-15
        assert abs(rows["b"].coverage - 7 / 8) < 1e-15
        assert abs(rows["c"].coverage - 1.0) < 1e-15

    def test_tie_break_and_top_k_cut(self, spark):
        df = spark.createDataFrame(
            [(1, "x y x y z")], "doc_id long, text string"
        )
        out = text.vocab_stats(df, top_k=2).collect()
        got = sorted((r.rank, r.word) for r in out)
        # x and y tie at 2; alphabetical tie-break; z (cnt 1) cut by top_k
        assert got == [(1, "x"), (2, "y")]


class TestDupSpanDetect:
    def test_shared_and_unique_spans(self, spark):
        # doc 1 and 2 share their first 3-gram; doc 3 is disjoint
        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "alpha beta gamma omega"),
                (3, "one two three four five"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in dedup.dup_span_detect(df, n=3).collect()}
        # doc1 grams: [abg, bgd]; abg shared -> 1/2
        assert out[1].n_grams == 2 and out[1].n_dup_grams == 1
        assert abs(out[1].dup_frac - 0.5) < 1e-15
        assert out[2].n_dup_grams == 1
        assert out[3].n_dup_grams == 0 and out[3].n_grams == 3

    def test_short_docs_omitted(self, spark):
        df = spark.createDataFrame(
            [(1, "too short"), (2, "a b c d e f g h i")],
            "doc_id long, text string",
        )
        out = dedup.dup_span_detect(df, n=8)
        assert [r.doc_id for r in out.collect()] == [2]


class TestBpeApply:
    def test_cascaded_merges_and_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "the then thin"), (2, "and sand"), (3, "xyz")],
            "doc_id long, text string",
        )
        merges = [("t", "h"), ("th", "e"), ("a", "n"), ("an", "d")]
        got = {r.doc_id: r for r in text.bpe_apply(df, merges).collect()}
        # the -> [the] (1); then -> [the, n] (2); thin -> [th, i, n] (3)
        assert got[1].n_words == 3 and got[1].n_tokens == 1 + 2 + 3
        # and -> [and] (1); sand -> [s, and] (2)
        assert got[2].n_tokens == 1 + 2
        # no merge applies -> one token per char
        assert got[3].n_tokens == 3
        assert abs(got[2].tokens_per_word - 1.5) < 1e-12

    def test_greedy_left_to_right_overlap(self, spark):
        # 'aaa' with merge (a,a): greedy left-to-right -> [aa, a]
        df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
        got = text.bpe_apply(df, [("a", "a")]).collect()[0]
        assert got.n_tokens == 2


class TestDocChunks:
    def test_short_exact_and_tail_pinned(self, spark):
        w = lambda n: " ".join(f"w{i}" for i in range(n))
        df = spark.createDataFrame(
            [(1, w(3)), (2, w(8)), (3, w(13))], "doc_id long, text string"
        )
        out = {}
        for r in text.doc_chunks(df, chunk_words=8, stride=5).collect():
            out.setdefault(r.doc_id, []).append(r)
        # shorter than a chunk -> one chunk covering all words
        assert len(out[1]) == 1 and out[1][0].n_words == 3
        # exactly one chunk
        assert len(out[2]) == 1 and out[2][0].n_words == 8
        # 13 words, stride 5 -> starts 1, 6 (tail start 13-8+1=6 on-grid)
        starts = sorted(r.start_word for r in out[3])
        assert starts == [1, 6]
        # full coverage: last chunk reaches the last word
        assert max(r.start_word + r.n_words - 1 for r in out[3]) == 13

    def test_off_grid_tail_appended_once(self, spark):
        w = " ".join(f"t{i}" for i in range(12))  # tail start 5, grid 1,4
        df = spark.createDataFrame([(1, w)], "doc_id long, text string")
        rows = sorted(
            text.doc_chunks(df, chunk_words=8, stride=3).collect(),
            key=lambda r: r.chunk_idx,
        )
        assert [r.start_word for r in rows] == [1, 4, 5]
        assert all(r.n_words == 8 for r in rows)
        # chunk text is the actual slice
        assert rows[-1].chunk_text.split()[0] == "t4"


class TestTfidfCosinePairs:
    def test_rare_term_pairs_found_common_pruned(self, spark):
        # docs 1,2 share rare word "quasar"; "the" is in every doc and
        # must be pruned by the df cut, so 3 pairs with no rare overlap
        rows = [
            (1, "the quasar flux"),
            (2, "the quasar beam"),
            (3, "the ordinary text"),
            (4, "the plain words"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = text.tfidf_cosine_pairs(df, threshold=0.05, max_df_pct=60)
        pairs = {(r.id_a, r.id_b): r.cosine for r in out.collect()}
        assert (1, 2) in pairs
        assert all(a == 1 and b == 2 for a, b in pairs)
        assert 0 < pairs[(1, 2)] <= 1.0

    def test_identical_docs_cosine_one(self, spark):
        rows = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "x y")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r.id_a, r.id_b): r.cosine
            for r in text.tfidf_cosine_pairs(
                df, threshold=0.5, max_df_pct=80
            ).collect()
        }
        assert abs(out[(1, 2)] - 1.0) < 1e-12


class TestSourceOverlap:
    def test_pairwise_shared_grams_and_jaccard(self, spark):
        # A and B share one 3-gram; C is disjoint from both
        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta", "A"),
                (2, "alpha beta gamma omega", "B"),
                (3, "one two three four", "C"),
            ],
            "doc_id long, text string, source string",
        )
        out = {
            (r.source_a, r.source_b): r
            for r in dedup.source_overlap(df, n=3).collect()
        }
        ab = out[("A", "B")]
        # each of A, B has 2 distinct grams; they share 'alpha beta gamma'
        assert ab.shared_grams == 1 and ab.grams_a == 2 and ab.grams_b == 2
        assert abs(ab.jaccard - 1 / 3) < 1e-9
        assert ("A", "C") not in out and ("B", "C") not in out

    def test_duplicate_grams_within_source_count_once(self, spark):
        # the same gram twice inside one source must not inflate overlap
        df = spark.createDataFrame(
            [
                (1, "x y z", "A"),
                (2, "x y z", "A"),
                (3, "x y z", "B"),
            ],
            "doc_id long, text string, source string",
        )
        row = dedup.source_overlap(df, n=3).collect()[0]
        assert row.shared_grams == 1 and row.grams_a == 1 and row.grams_b == 1
        assert row.jaccard == 1.0

    def test_single_amplified_shuffle_no_self_join(self, spark):
        # scale contract of the market-basket shape: the exploded gram
        # stream aggregates straight to a per-gram source set, so the
        # plan carries NO join on the gram key (the old distinct +
        # self-join shape exchanged the vocabulary twice more) and no
        # SortMergeJoin at all — pairs expand in-row from the bounded
        # sorted array.
        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta", "A"),
                (2, "alpha beta gamma omega", "B"),
                (3, "alpha beta gamma nu", "C"),
            ],
            "doc_id long, text string, source string",
        )
        out = dedup.source_overlap(df, n=3)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the grouped set table is checkpointed, so the collect_set
        # aggregate lives in the checkpoint job; the final plan must
        # show the in-row expansion (Generate explode over the pair
        # array) and no join on the gram key at all
        assert "SortMergeJoin" not in plan, plan
        assert "Generate explode" in plan, plan
        assert "Exchange hashpartitioning(_g#" not in plan, plan


class TestBpePairCounts:
    def test_weighted_pair_counts(self, spark):
        # "ab" appears 3x (in 'ab' twice via wc=2? no: word 'abc' once,
        # 'ab' twice) -> pairs: abc gives ab,bc; ab gives ab
        df = spark.createDataFrame(
            [(1, "abc ab ab"), (2, "xy")], "doc_id long, text string"
        )
        rows = {r.pair: r for r in text.bpe_pair_counts(df, top_k=10).collect()}
        assert rows["ab"].cnt == 3  # 1 from abc + 2 from ab
        assert rows["bc"].cnt == 1
        assert rows["xy"].cnt == 1
        assert rows["ab"].rank == 1

    def test_repeated_pair_within_word(self, spark):
        df = spark.createDataFrame([(1, "aaa")], "doc_id long, text string")
        rows = {r.pair: r.cnt for r in text.bpe_pair_counts(df, top_k=5).collect()}
        assert rows == {"aa": 2}  # positions 1-2 and 2-3


class TestSourceDivergence:
    def test_identical_sources_zero_kl(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c", "s1"), (2, "a b c", "s2")],
            "doc_id long, text string, source string",
        )
        out = {r.source: r.kl for r in text.source_divergence(df).collect()}
        assert abs(out["s1"]) < 1e-12 and abs(out["s2"]) < 1e-12

    def test_divergent_source_scores_higher(self, spark):
        rows = [(i, "common words here", "web") for i in range(8)]
        rows.append((100, "zyx qwv jkl", "weird"))
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r.source: r.kl for r in text.source_divergence(df).collect()}
        assert out["weird"] > out["web"]
        assert out["weird"] > 0.5  # disjoint vocab -> large divergence


class TestPqRefineTopk:
    def test_refine_recovers_exact_top1(self, spark):
        import numpy as np

        rng = np.random.default_rng(3)
        vecs = rng.normal(0, 1, (30, 8))
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        cb_rows = []
        for code in range(4):
            for m in range(2):
                cb_rows.append(
                    (m, code, [float(x) for x in vecs[code, m * 4:(m + 1) * 4]])
                )
        cb = spark.createDataFrame(cb_rows, "sub_id int, code int, cvec array<double>")
        # query = a corpus vector: exact re-rank over a wide shortlist
        # must put it at rank 1 even if ADC alone would not
        queries = spark.createDataFrame(
            [(0, [float(x) for x in vecs[17]])], "q_id long, q_vec array<double>"
        )
        out = similarity.pq_refine_topk(
            emb, queries, cb, n_sub=2, sub_dim=4, k=3, shortlist=30
        ).collect()
        top = [r for r in out if r.rank == 1][0]
        assert top.vec_id == 17 and abs(top.cosine - 1.0) < 1e-12

    def test_partition_invariant(self, spark):
        import numpy as np

        rng = np.random.default_rng(9)
        vecs = rng.normal(0, 1, (24, 8))
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        cb_rows = [
            (m, c, [float(x) for x in vecs[c, m * 4:(m + 1) * 4]])
            for c in range(4)
            for m in range(2)
        ]
        cb = spark.createDataFrame(cb_rows, "sub_id int, code int, cvec array<double>")
        queries = spark.createDataFrame(
            [(0, [float(x) for x in vecs[5]])], "q_id long, q_vec array<double>"
        )
        a = sorted(
            (r.vec_id, r.rank)
            for r in similarity.pq_refine_topk(
                emb, queries, cb, n_sub=2, sub_dim=4, k=4, shortlist=10
            ).collect()
        )
        b = sorted(
            (r.vec_id, r.rank)
            for r in similarity.pq_refine_topk(
                emb.repartition(7), queries, cb, n_sub=2, sub_dim=4, k=4, shortlist=10
            ).collect()
        )
        assert a == b


class TestChunkDedupInvariance:
    def test_partition_invariant(self, spark):
        rows = [(i, f"common header block unique body {i} tail words here") for i in range(30)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(
            (r.doc_id, r.text_deduped)
            for r in dedup.chunk_dedup(df, chunk_words=3, max_docs=1).collect()
        )
        b = sorted(
            (r.doc_id, r.text_deduped)
            for r in dedup.chunk_dedup(
                df.repartition(11), chunk_words=3, max_docs=1
            ).collect()
        )
        assert a == b


class TestTfidfTopk:
    def _docs(self, spark, parts=1):
        rows = [
            (0, "apple banana apple cherry", "en", "s0", 10),
            (1, "banana cherry cherry date", "en", "s0", 10),
            (2, "apple apple apple", "en", "s1", 10),
            (3, "unique singleton words here", "en", "s1", 10),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).repartition(parts)

    def test_rare_words_outrank_common(self, spark):
        from openseize_spark.llm import text as llm_text

        out = llm_text.tfidf_topk(self._docs(spark), k=2).collect()
        top = {r.doc_id: r.word for r in out if r.rank == 1}
        # doc 3's words appear nowhere else -> its top term is one of them
        assert top[3] in {"unique", "singleton", "words", "here"}
        # every score non-negative, ranks within k, tf positive
        assert all(r.score >= 0 and 1 <= r.rank <= 2 and r.tf >= 1 for r in out)

    def test_partition_invariant_and_k_bound(self, spark):
        from openseize_spark.llm import text as llm_text

        a = sorted(
            map(tuple, llm_text.tfidf_topk(self._docs(spark, 1), k=3).collect())
        )
        b = sorted(
            map(tuple, llm_text.tfidf_topk(self._docs(spark, 7), k=3).collect())
        )
        assert a == b
        per_doc = {}
        for r in a:
            per_doc[r[0]] = per_doc.get(r[0], 0) + 1
        assert all(v <= 3 for v in per_doc.values())


class TestBm25Topk:
    def _docs(self, spark, parts=1):
        rows = [
            (0, "fast hash join fast join", "en", "s0", 10),
            (1, "hash table scan", "en", "s0", 10),
            (2, "slow sort merge join", "en", "s1", 10),
            (3, "window agg stream stream", "en", "s1", 10),
            (4, "totally unrelated words only", "en", "s2", 10),
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).repartition(parts)

    def test_relevance_ordering_and_k(self, spark):
        from openseize_spark.llm import text as llm_text

        out = llm_text.bm25_topk(
            self._docs(spark), queries={1: "fast hash join", 2: "stream agg"}, k=3
        ).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        top1 = {qid: min(rs, key=lambda r: r.rank).doc_id for qid, rs in by_q.items()}
        assert top1[1] == 0  # doc 0 matches all three terms, twice over
        assert top1[2] == 3
        # doc 4 shares no terms with query 1 -> never retrieved for it
        assert all(r.doc_id != 4 for r in by_q[1])
        assert all(len(rs) <= 3 for rs in by_q.values())

    def test_partition_invariant(self, spark):
        from openseize_spark.llm import text as llm_text

        qs = {7: "join scan"}
        a = sorted(map(tuple, llm_text.bm25_topk(self._docs(spark, 1), qs, k=5).collect()))
        b = sorted(map(tuple, llm_text.bm25_topk(self._docs(spark, 9), qs, k=5).collect()))
        assert a == b and len(a) > 0


class TestSnapshotDiff:
    def test_classification_and_symmetry(self, spark):
        from openseize_spark.llm import dedup

        a = spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
        )
        b = spark.createDataFrame(
            [(2, "beta"), (3, "gamma CHANGED"), (4, "delta")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.status for r in dedup.snapshot_diff(a, b).collect()}
        assert out == {1: "deleted", 3: "modified", 4: "added"}
        # reversed direction swaps added/deleted, keeps modified
        rev = {r.doc_id: r.status for r in dedup.snapshot_diff(b, a).collect()}
        assert rev == {1: "added", 3: "modified", 4: "deleted"}

    def test_whitespace_case_insensitive(self, spark):
        from openseize_spark.llm import dedup

        a = spark.createDataFrame([(1, "Hello  World")], "doc_id long, text string")
        b = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
        assert dedup.snapshot_diff(a, b).count() == 0


class TestPagerank:
    def _edges(self, spark, parts=1):
        # star around 0 plus a detached triangle
        rows = [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (11, 12), (10, 12)]
        return spark.createDataFrame(rows, "a long, b long").repartition(parts)

    def test_hub_ranks_highest_and_mass_conserved(self, spark):
        from openseize_spark.llm import dedup

        out = {r.id: (r.degree, r.pagerank) for r in dedup.pagerank(self._edges(spark)).collect()}
        assert out[0][0] == 4
        # the star hub outranks its leaves and the triangle members
        assert all(out[0][1] > out[i][1] for i in [1, 2, 3, 4, 10, 11, 12])
        # triangle is symmetric -> identical ranks
        assert out[10] == out[11] == out[12]
        # total mass stays ~1 (floor-division leakage only)
        assert 0.99 < sum(p for _, p in out.values()) <= 1.0

    def test_partition_invariant(self, spark):
        from openseize_spark.llm import dedup

        a = sorted(map(tuple, dedup.pagerank(self._edges(spark, 1)).collect()))
        b = sorted(map(tuple, dedup.pagerank(self._edges(spark, 5)).collect()))
        assert a == b


class TestCountMin:
    def _docs(self, spark, parts=1):
        rows = [
            (i, "alpha beta " + ("gamma " * (i % 3)), "en", "s0", 10)
            for i in range(40)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).repartition(parts)

    def test_never_undercounts_and_often_exact(self, spark):
        from openseize_spark.llm import sketch

        out = {
            r.word: (r.est, r.exact)
            for r in sketch.countmin_estimate(
                self._docs(spark), ["alpha", "beta", "gamma", "absent"]
            ).collect()
        }
        assert out["alpha"][1] == 40 and out["beta"][1] == 40
        assert out["gamma"][1] == sum(i % 3 for i in range(40))
        assert out["absent"][1] == 0
        # Count-Min guarantee: est >= exact for every probe
        assert all(est >= exact for est, exact in out.values())
        # only 3 distinct tokens in a 4x256 grid: no collisions possible
        assert all(est == exact for w, (est, exact) in out.items() if w != "absent")

    def test_sketch_partition_invariant_and_bounded(self, spark):
        from openseize_spark.llm import sketch

        a = sorted(map(tuple, sketch.countmin_sketch(self._docs(spark, 1)).collect()))
        b = sorted(map(tuple, sketch.countmin_sketch(self._docs(spark, 7)).collect()))
        assert a == b
        assert len(a) <= 4 * 256


class TestSnapshotDiffNullText:
    def test_null_text_classified_by_presence(self, spark):
        from openseize_spark.llm import dedup

        a = spark.createDataFrame(
            [(1, None), (2, None), (3, "x")], "doc_id long, text string"
        )
        b = spark.createDataFrame(
            [(1, None), (3, None), (4, None)], "doc_id long, text string"
        )
        out = {r.doc_id: r.status for r in dedup.snapshot_diff(a, b).collect()}
        # 1: NULL->NULL unchanged; 2: deleted; 3: text->NULL modified; 4: added
        assert out == {2: "deleted", 3: "modified", 4: "added"}


class TestLevenshteinVerify:
    def test_small_edit_passes_disjoint_fails(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumped over the lazy dog"),
                (3, "entirely different content with nothing shared"),
            ],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3)], "a long, b long"
        )
        out = {(r.a, r.b): r for r in dedup.levenshtein_verify(
            docs, pairs, threshold=0.8
        ).collect()}
        assert (1, 2) in out and (1, 3) not in out
        assert out[(1, 2)].lev == 2  # 'jumps' -> 'jumped' is +e, s->d? no: 2 edits
        assert out[(1, 2)].sim > 0.9

    def test_prefix_cap_bounds_cost(self, spark):
        long_a = "x" * 5000
        long_b = "x" * 4000 + "y" * 1000
        docs = spark.createDataFrame(
            [(1, long_a), (2, long_b)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2)], "a long, b long")
        r = dedup.levenshtein_verify(
            docs, pairs, threshold=0.0, prefix_chars=500
        ).collect()[0]
        # identical within the 500-char prefix -> distance 0
        assert r.lev == 0 and r.sim == 1.0


class TestRrfFusion:
    def test_fused_rank_combines_rankers(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "fast hash join engine"),
                (2, "fast fast fast hash hash join"),
                (3, "window agg stream"),
                (4, "unrelated words only here"),
            ],
            "doc_id long, text string",
        )
        out = text.rrf_fusion(docs, {1: "fast hash join"}, k=4).collect()
        by_rank = sorted(out, key=lambda r: r.rank)
        # both rankers must place docs 1 and 2 above 3 and 4
        top2 = {r.doc_id for r in by_rank[:2]}
        assert top2 == {1, 2}
        # doc 4 shares no term with the query: absent from both rankers
        assert 4 not in {r.doc_id for r in out}
        # rrf value consistency: rank-1 fused score <= 2/(60+1)
        assert by_rank[0].rrf <= 2.0 / 61.0 + 1e-12


class TestTriangleCount:
    def test_known_graph(self, spark):
        # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant
        # edge 4-5 and a disjoint chain 6-7-8 (no triangles)
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        edges += [(4, 5), (6, 7), (7, 8)]
        df = spark.createDataFrame(edges, "a long, b long")
        out = {r.id: r.n_triangles for r in dedup.triangle_count(df).collect()}
        assert out == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_single_triangle_counts_once(self, spark):
        df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long")
        out = {r.id: r.n_triangles for r in dedup.triangle_count(df).collect()}
        assert out == {1: 1, 2: 1, 3: 1}


def _brute_k_core(edges, k):
    """Reference peeling: repeatedly drop nodes with degree < k."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        weak = {n for n, d in deg.items() if d < k}
        if not weak:
            return deg
        es = {e for e in es if e[0] not in weak and e[1] not in weak}


class TestKCore:
    def test_known_graph(self, spark):
        # K4 on {1,2,3,4} (2-core AND 3-core) + pendant edge 4-5 +
        # chain 6-7-8 + a 3-cycle 9-10-11 (2-core but not 3-core)
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        edges += [(4, 5), (6, 7), (7, 8), (9, 10), (10, 11), (9, 11)]
        df = spark.createDataFrame(edges, "a long, b long")
        two = {r.id: r.core_degree for r in dedup.k_core(df, k=2).collect()}
        assert two == {1: 3, 2: 3, 3: 3, 4: 3, 9: 2, 10: 2, 11: 2}
        three = {r.id: r.core_degree for r in dedup.k_core(df, k=3).collect()}
        assert three == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_cascading_peel(self, spark):
        # a chain hanging off a triangle peels layer by layer: the
        # chain's removal lowers no triangle degree below 2, but a
        # 4-cycle with one chord loses nothing while k=2 yet fully
        # dissolves at k=3 only after the chord-free corners go first
        edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
        out = {r.id: r.core_degree for r in dedup.k_core(
            spark.createDataFrame(edges, "a long, b long"), k=2
        ).collect()}
        assert out == {1: 2, 2: 2, 3: 2}

    def test_empty_core(self, spark):
        df = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
        assert dedup.k_core(df, k=2).count() == 0

    def test_matches_brute_force(self, spark):
        # deterministic pseudo-random graph, several k values
        edges = [((i * 7) % 23, (i * 11 + 3) % 23) for i in range(60)]
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "a long, b long"
        )
        for k in (2, 3, 4):
            got = {
                r.id: r.core_degree
                for r in dedup.k_core(df, k=k).collect()
            }
            assert got == _brute_k_core(edges, k), f"k={k}"


class TestBloomDecontaminate:
    def test_no_false_negatives(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox"),
                (2, "some unique document zebra"),
                (3, "The  Quick   Brown Fox"),  # normalizes == benchmark
                (4, "another clean doc entirely"),
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "the quick brown fox")], "doc_id long, text string"
        )
        out = {r.doc_id: r.bloom_hit for r in
               dedup.bloom_decontaminate(docs, bench).collect()}
        # every true member MUST be flagged (Bloom guarantees no false
        # negatives); non-members may rarely false-positive but with
        # m=2^16 and one benchmark doc they cannot here
        assert out[1] is True and out[3] is True
        assert out[2] is False and out[4] is False
        assert len(out) == 4  # left join keeps every input row

    def test_partition_invariant(self, spark):
        docs = spark.createDataFrame(
            [(i, f"text {i % 7}") for i in range(60)], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(0, "text 0"), (1, "text 3")], "doc_id long, text string"
        )
        a = sorted(
            (r.doc_id, r.bloom_hit)
            for r in dedup.bloom_decontaminate(docs.coalesce(1), bench).collect()
        )
        b = sorted(
            (r.doc_id, r.bloom_hit)
            for r in dedup.bloom_decontaminate(docs.repartition(8), bench).collect()
        )
        assert a == b
        # the two benchmark classes (i%7 in {0,3}) are flagged
        assert all(hit == (i % 7 in (0, 3)) for i, hit in a)

    def test_tiny_filter_false_positives_still_superset(self, spark):
        # With m=8 bits the filter saturates: hits become a STRICT
        # superset of true members — the screen stays sound (no misses)
        # even when badly undersized.
        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(30)], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(0, "text 0"), (1, "text 17")], "doc_id long, text string"
        )
        out = {r.doc_id: r.bloom_hit for r in
               dedup.bloom_decontaminate(docs, bench, m=8, k=3).collect()}
        assert out[0] is True and out[17] is True
        assert sum(out.values()) >= 2


class TestHardNegatives:
    def test_excludes_same_label_and_matches_numpy(self, spark):
        rng = np.random.default_rng(3)
        M = rng.standard_normal((40, 8))
        labels = [int(i % 4) for i in range(40)]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in M[i]], labels[i]) for i in range(40)],
            "vec_id long, embedding array<double>, label int",
        )
        q = emb.filter(F.col("vec_id") < 2).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            F.col("label").alias("q_label"),
        )
        corpus = emb.filter(F.col("vec_id") >= 2)
        out = similarity.hard_negatives(corpus, q, k=3).collect()
        assert len(out) == 6
        for r in out:
            assert r.label != r.q_label
        # numpy oracle: top-3 cross-label cosines per query
        norms = np.linalg.norm(M, axis=1)
        for qid in (0, 1):
            cos = (M[2:] @ M[qid]) / (norms[2:] * norms[qid])
            ids = np.arange(2, 40)
            mask = np.array(labels[2:]) != labels[qid]
            order = sorted(
                zip(-cos[mask], ids[mask]),
            )[:3]
            want = [int(i) for _, i in order]
            got = [
                r.vec_id
                for r in sorted(
                    (r for r in out if r.q_id == qid), key=lambda r: r.rank
                )
            ]
            assert got == want


class TestQuantizeInt8:
    def test_lane_math_and_zero_vector(self, spark):
        emb = spark.createDataFrame(
            [
                (0, [1.0, -0.5, 0.25, 0.0], 0),
                (1, [0.0, 0.0, 0.0, 0.0], 1),  # zero vector -> all-zero q
            ],
            "vec_id long, embedding array<double>, label int",
        )
        rows = {r.vec_id: r for r in similarity.quantize_int8(emb).collect()}
        r0 = rows[0]
        # scale = 1/127; q = round(x*127) = [127, -64 (63.5 rounds away), 32, 0]
        assert r0.scale == round(1.0 / 127.0, 9)
        assert r0.q_l1 == 127 + 64 + 32
        assert r0.n_sat == 1
        assert r0.err_max <= 0.5 / 127.0 + 1e-9  # + slack for the 9-digit round
        r1 = rows[1]
        assert (r1.scale, r1.q_l1, r1.n_sat, r1.err_max) == (0.0, 0, 0, 0.0)

    def test_reconstruction_bound(self, spark):
        rng = np.random.default_rng(7)
        M = rng.standard_normal((30, 12))
        emb = spark.createDataFrame(
            [(i, [float(x) for x in M[i]], 0) for i in range(30)],
            "vec_id long, embedding array<double>, label int",
        )
        for r in similarity.quantize_int8(emb).collect():
            scale = np.abs(M[r.vec_id]).max() / 127.0
            # symmetric quantization error is bounded by scale/2
            assert r.err_max <= scale / 2 + 1e-9  # + slack for the 9-digit round
            assert 0 <= r.n_sat <= 12 and r.q_l1 > 0


class TestHyperLogLog:
    def _py_registers(self, values, b=5, seed="hll"):
        import hashlib

        rest_bits = 32 - b
        regs = {}
        for v in values:
            h = int(
                hashlib.md5(f"{seed}:{v}".encode()).hexdigest()[:8], 16
            )
            bucket, rest = h >> rest_bits, h & ((1 << rest_bits) - 1)
            rho = (
                rest_bits + 1
                if rest == 0
                else rest_bits + 1 - rest.bit_length()
            )
            regs[bucket] = max(regs.get(bucket, 0), rho)
        return regs

    def test_registers_match_python_replay(self, spark):
        from openseize_spark.llm import sketch

        vals = list(range(300))
        df = spark.createDataFrame([(v,) for v in vals], "k long")
        got = {
            r.bucket: r.m_j for r in sketch.hll_sketch(df, "k").collect()
        }
        assert got == self._py_registers(vals)

    def test_partition_invariant_and_mergeable(self, spark):
        from openseize_spark.llm import sketch

        df1 = spark.createDataFrame([(v,) for v in range(200)], "k long")
        a = {r.bucket: r.m_j
             for r in sketch.hll_sketch(df1.coalesce(1), "k").collect()}
        b = {r.bucket: r.m_j
             for r in sketch.hll_sketch(df1.repartition(16), "k").collect()}
        assert a == b
        # merge property: registers of a union == elementwise max
        lo = self._py_registers(range(100))
        hi = self._py_registers(range(100, 200))
        merged = {
            k: max(lo.get(k, 0), hi.get(k, 0)) for k in set(lo) | set(hi)
        }
        assert a == merged

    def test_estimate_within_hll_error(self, spark):
        from openseize_spark.llm import sketch

        df = spark.createDataFrame([(v,) for v in range(2000)], "k long")
        row = sketch.hll_estimate(df, "k").collect()[0]
        assert row.exact_distinct == 2000
        assert row.m == 32 and row.n_empty == 0
        # 1.04/sqrt(32) ~ 18% std error; allow 4 sigma
        assert abs(row.est_distinct - 2000) / 2000 < 0.75
        assert row.rel_err == round(abs(row.est_distinct - 2000) / 2000, 6)

    def test_linear_counting_branch(self, spark):
        from openseize_spark.llm import sketch
        import math

        df = spark.createDataFrame([(v,) for v in range(8)], "k long")
        row = sketch.hll_estimate(df, "k").collect()[0]
        assert row.n_empty > 0
        regs = self._py_registers(range(8))
        v_empty = 32 - len(regs)
        assert row.est_distinct == round(32.0 * math.log(32.0 / v_empty), 6)


class TestSortedNeighborhood:
    def test_matches_global_sort_definition(self, spark):
        docs = spark.createDataFrame(
            [(i, f"prefix{(i * 7) % 13:02d} body {i}") for i in range(40)],
            "doc_id long, text string",
        )
        got = sorted(
            (r.a, r.b, r.dist)
            for r in dedup.sorted_neighborhood_pairs(
                docs, window=3, key_len=10
            ).collect()
        )
        # oracle: global (key, id) sort, pairs within rank distance < 3
        rows = sorted(
            (t.lower()[:10], i)
            for i, t in [(r.doc_id, r.text) for r in docs.collect()]
        )
        want = sorted(
            (rows[i][1], rows[j][1], j - i)
            for i in range(len(rows))
            for j in range(i + 1, min(i + 3, len(rows)))
        )
        assert got == want and len(got) == 39 + 38

    def test_partition_invariant(self, spark):
        docs = spark.createDataFrame(
            [(i, f"t{i % 9} word {i}") for i in range(60)],
            "doc_id long, text string",
        )
        a = sorted(
            (r.a, r.b, r.dist)
            for r in dedup.sorted_neighborhood_pairs(
                docs.coalesce(1), window=4
            ).collect()
        )
        b = sorted(
            (r.a, r.b, r.dist)
            for r in dedup.sorted_neighborhood_pairs(
                docs.repartition(8), window=4
            ).collect()
        )
        assert a == b and len(a) == 59 + 58 + 57


class TestClusterCohesion:
    def test_with_counts_matches_jaccard(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "abcdefghij"),
                (2, "abcdefghiX"),   # near-dup of 1
                (3, "zzzzyyyyxxxx"),
            ],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
        out = dedup.jaccard_verify(
            docs, pairs, k=3, threshold=0.0, with_counts=True
        ).collect()
        for r in out:
            assert r.jaccard == r.inter / r.union_sz
        r12 = next(r for r in out if (r.a, r.b) == (1, 2))
        # 3-shingles of len-10 strings: 8 each; 7 shared
        assert (r12.inter, r12.union_sz) == (7, 9)

    def test_backward_compatible_columns(self, spark):
        docs = spark.createDataFrame(
            [(1, "abcdef"), (2, "abcdeg")], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2)], "a long, b long")
        out = dedup.jaccard_verify(docs, pairs, k=3, threshold=0.0)
        assert out.columns == ["a", "b", "jaccard"]

    def test_candidate_checkpoint_composition_safe(self, spark):
        # round-14 contract: jaccard_verify / containment_verify
        # materialize the candidate table with one eager
        # localCheckpoint whose lifetime is the PLAN reference's, so a
        # caller that folds the result into a larger lazy plan and
        # drops the intermediate at return (minhash_dedup) still reads
        # the materialized candidates instead of re-executing the
        # candidate pipeline per consumer — the failure mode of the
        # persist+finalizer versions, whose cache died with the Python
        # intermediate before the outer action ran.
        import gc

        def rdd_ids():
            it = (
                spark.sparkContext._jsc.getPersistentRDDs()
                .keySet()
                .iterator()
            )
            ids = set()
            while it.hasNext():
                ids.add(it.next())
            return ids

        gc.collect()
        before = rdd_ids()
        docs = spark.createDataFrame(
            [(1, "abcdef"), (2, "abcdeg")], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2)], "a long, b long")

        def make_composed():
            # compose-and-drop: the verify result dies inside this frame
            dup = dedup.jaccard_verify(docs, pairs, k=3, threshold=0.0)
            losers = dup.select(F.col("b").alias("doc_id")).distinct()
            return docs.join(losers, on="doc_id", how="left_anti")

        out = make_composed()
        gc.collect()  # the intermediate verify result is gone NOW
        # candidates were checkpointed eagerly at call time and must
        # still be alive for the outer plan
        assert rdd_ids() - before, "candidate checkpoint not materialized"
        # the composed plan executes correctly against the live blocks
        assert [r.doc_id for r in out.collect()] == [1]
        # no CacheManager entry is involved at all (leak-free by
        # construction: blocks die with the plan reference)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_verify_results_independent_after_first_drop(self, spark):
        # each verify call owns an independent checkpoint: dropping the
        # first result never invalidates the second (the refcount bug
        # class of the round-8 finalizer-per-result version cannot
        # recur by construction)
        import gc

        docs = spark.createDataFrame(
            [(1, "abcdefghij"), (2, "abcdefghiX"), (3, "zzzzyyyyxxxx")],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
        r1 = dedup.jaccard_verify(docs, pairs, k=3, threshold=0.0)
        r2 = dedup.containment_verify(docs, pairs, k=3)
        n2 = len(r2.collect())
        del r1
        gc.collect()
        # survivor still executes after the sibling is gone
        assert len(r2.collect()) == n2


class TestHllByGroup:
    def test_groups_match_single_group_runs(self, spark):
        from openseize_spark.llm import sketch

        rows = [(i, f"g{i % 3}") for i in range(900)]
        df = spark.createDataFrame(rows, "k long, g string")
        by = {
            r.g: (r.n_empty, r.sum_units, r.exact_distinct, r.est_distinct)
            for r in sketch.hll_estimate_by(df, "k", ["g"]).collect()
        }
        # each group's registers must equal a standalone sketch of that
        # group — per-group state is fully independent
        for g in ("g0", "g1", "g2"):
            solo = sketch.hll_estimate(
                df.filter(F.col("g") == g), "k"
            ).collect()[0]
            assert by[g] == (
                solo.n_empty, solo.sum_units,
                solo.exact_distinct, solo.est_distinct,
            )


class TestHashedFeatures:
    def test_python_replay_and_invariants(self, spark):
        import hashlib

        docs = spark.createDataFrame(
            [(1, "alpha beta alpha"), (2, "gamma"), (3, "  Alpha  BETA ")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in
               text.hashed_doc_features(docs, dim=8, seed="t").collect()}

        def h(w, seed):
            return int(hashlib.md5(f"{seed}:{w}".encode()).hexdigest()[:8], 16)

        def feats(words):
            v = {}
            for w in words:
                b = h(w, "t") % 8
                s = h(w, "ts") % 2 * 2 - 1
                v[b] = v.get(b, 0) + s
            return v

        for doc_id, words in ((1, ["alpha", "beta", "alpha"]),
                              (2, ["gamma"]),
                              (3, ["alpha", "beta"])):
            v = feats(words)
            r = out[doc_id]
            assert r.n_terms == len(words)
            assert r.nnz == sum(1 for x in v.values() if x != 0)
            assert r.l2sq == sum(x * x for x in v.values())
            assert r.probe_dot == sum(x * (b % 2 * 2 - 1) for b, x in v.items())
        # normalization: doc 3 equals doc 1 minus one 'alpha' occurrence
        assert out[3].n_terms == 2


class TestContainmentVerify:
    def test_subset_doc_fully_contained(self, spark):
        # doc 2's normalized text is a prefix of doc 1's: every one of its
        # k=3 shingles appears in doc 1 -> cont_b == 1.0
        df = spark.createDataFrame(
            [(1, "abcdefgh"), (2, "abcde")], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2)], "a long, b long")
        out = dedup.containment_verify(df, pairs, k=3).collect()
        assert len(out) == 1
        r = out[0]
        # doc1 shingles: abc bcd cde def efg fgh (6); doc2: abc bcd cde (3)
        assert (r.n_a, r.n_b, r.inter) == (6, 3, 3)
        assert abs(r.cont_a - 0.5) < 1e-15
        assert abs(r.cont_b - 1.0) < 1e-15

    def test_disjoint_pair_dropped(self, spark):
        df = spark.createDataFrame(
            [(1, "aaaaaa"), (2, "zzzzzz")], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2)], "a long, b long")
        assert dedup.containment_verify(df, pairs, k=3).count() == 0

    def test_duplicate_shingles_counted_once(self, spark):
        # repeated shingles collapse via array_distinct on both sides
        df = spark.createDataFrame(
            [(1, "ababab"), (2, "abab")], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2)], "a long, b long")
        r = dedup.containment_verify(df, pairs, k=2).collect()[0]
        # distinct 2-shingles: both docs have exactly {ab, ba}
        assert (r.n_a, r.n_b, r.inter) == (2, 2, 2)
        assert r.cont_a == 1.0 and r.cont_b == 1.0


class TestC4Clean:
    def test_rules(self, spark):
        from openseize_spark.llm.text import c4_clean

        df = spark.createDataFrame(
            [
                (1, "This is a good sentence. Another fine one follows!"),
                (2, "Too short. Ok? This sentence has enough words."),
                (3, "function() { return 1; } looks like code."),
                (4, "Plenty of Lorem Ipsum filler text here."),
                (5, "An unterminated trailing fragment never matches"),
                (6, None),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in c4_clean(df, min_words=3).collect()}
        assert 6 not in out  # null text filtered
        r1 = out[1]
        assert not r1.dropped_doc and r1.n_sentences == 2 and r1.n_kept == 2
        assert (
            r1.clean_text
            == "This is a good sentence. Another fine one follows!"
        )
        r2 = out[2]
        # "Too short." (2 words) and "Ok?" (1 word) drop; one survivor
        assert r2.n_sentences == 3 and r2.n_kept == 1
        assert r2.clean_text == "This sentence has enough words."
        assert out[3].dropped_doc and out[3].n_kept == 0
        assert out[3].clean_text is None
        assert out[4].dropped_doc  # case-insensitive lorem ipsum
        r5 = out[5]
        # no terminal punctuation anywhere -> zero sentences, NULL text
        assert r5.n_sentences == 0 and r5.n_kept == 0
        assert r5.clean_text is None and not r5.dropped_doc


class TestLabelPropagation:
    def test_two_cliques_one_bridge(self, spark):
        # K4 {1..4} -- bridge 4-5 -- K4 {5..8}: after 4 rounds each
        # clique carries its minimum id; the bridge endpoints stay with
        # their own (denser) side
        edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        edges += [(a, b) for a in range(5, 9) for b in range(a + 1, 9)]
        edges += [(4, 5)]
        df = spark.createDataFrame(edges, "a long, b long")
        out = {
            r.id: r.label
            for r in dedup.label_propagation(df, rounds=4).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 5}

    def test_matches_python_replay(self, spark):
        # deterministic pseudo-random graph vs an exact python replay
        # of the fixed-round synchronous rule
        edges = sorted(
            {
                tuple(sorted(((i * 5) % 17, (i * 9 + 2) % 17)))
                for i in range(40)
            }
        )
        edges = [e for e in edges if e[0] != e[1]]
        rounds = 4
        nbrs = {}
        for a, b in edges:
            nbrs.setdefault(a, set()).add(b)
            nbrs.setdefault(b, set()).add(a)
        lab = {n: n for n in nbrs}
        for _ in range(rounds):
            nxt = {}
            for n in nbrs:
                votes = {}
                for m in nbrs[n]:
                    votes[lab[m]] = votes.get(lab[m], 0) + 1
                votes[lab[n]] = votes.get(lab[n], 0) + 1  # self-vote
                nxt[n] = min(
                    votes, key=lambda l: (-votes[l], l)
                )
            lab = nxt
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "a long, b long"
        )
        got = {
            r.id: r.label
            for r in dedup.label_propagation(df, rounds=rounds).collect()
        }
        assert got == lab


class TestPrioritySample:
    """priority_sample vs an exact python replay of the integer
    priority/tau/estimator arithmetic (llm/sampling.priority_sample)."""

    @staticmethod
    def _brute(rows, k, seed="pri"):
        import hashlib

        HS = 1 << 32
        scored = []
        for key, w in rows:
            h = int(
                hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:8], 16
            )
            scored.append((key, w, (w * HS) // (h + 1)))
        scored.sort(key=lambda r: (-r[2], r[0]))
        tau = scored[k][2] if len(scored) > k else 0
        return {
            key: (w, q, float(max(w, tau))) for key, w, q in scored[:k]
        }

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, n_chars long")

    def test_matches_python_brute_force(self, spark):
        from openseize_spark.llm import sampling

        rows = [(i, 10 + (i * 37) % 500) for i in range(200)]
        out = sampling.priority_sample(
            self._df(spark, rows), k=20, weight_col="n_chars"
        ).collect()
        got = {
            r.key: (r.weight, r.priority_units, r.est_weight) for r in out
        }
        assert got == self._brute(rows, 20)

    def test_small_population_kept_whole(self, spark):
        from openseize_spark.llm import sampling

        rows = [(i, 100 + i) for i in range(5)]
        out = sampling.priority_sample(
            self._df(spark, rows), k=20, weight_col="n_chars"
        ).collect()
        # n <= k: everything kept, tau = 0, est weight == raw weight
        assert len(out) == 5
        for r in out:
            assert r.est_weight == float(r.weight)

    def test_partition_invariance(self, spark):
        from openseize_spark.llm import sampling

        rows = [(i, 1 + (i * 13) % 97) for i in range(300)]
        a = sampling.priority_sample(
            self._df(spark, rows).repartition(7), k=25, weight_col="n_chars"
        ).collect()
        b = sampling.priority_sample(
            self._df(spark, rows).coalesce(1), k=25, weight_col="n_chars"
        ).collect()
        key = lambda r: r.key
        assert sorted(a, key=key) == sorted(b, key=key)

    def test_estimator_floor_is_tau(self, spark):
        from openseize_spark.llm import sampling

        rows = [(i, 10 + (i * 37) % 500) for i in range(200)]
        out = sampling.priority_sample(
            self._df(spark, rows), k=20, weight_col="n_chars"
        ).collect()
        # every sampled row's estimate >= its raw weight (max(w, tau))
        assert all(r.est_weight >= float(r.weight) for r in out)
        # and the smallest estimates all equal tau/2^32 (the clamp)
        est = sorted(r.est_weight for r in out)
        assert est[0] == est[1]  # at least two rows hit the tau floor


class TestHits:
    """hits vs an exact python replay of the integer recursion."""

    @staticmethod
    def _brute(edges, iters=3, S=10**6):
        srcs = {s for s, _ in edges}
        hubs = {s: S for s in srcs}
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
        return hubs, auths

    def test_matches_python_brute_force(self, spark):
        edges = [
            (u, p)
            for u in range(1, 8)
            for p in range(101, 109)
            if (u * p) % 3 != 0
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = dedup.hits(df, iters=3).collect()
        hubs, auths = self._brute(edges)
        got_h = {r.id: r.score for r in out if r.node_type == "hub"}
        got_a = {r.id: r.score for r in out if r.node_type == "auth"}
        assert got_h == {k: v / 1e6 for k, v in hubs.items()}
        assert got_a == {k: v / 1e6 for k, v in auths.items()}

    def test_authority_ordering(self, spark):
        # star: item 100 bought by all 5 users, item 200 by one
        edges = [(u, 100) for u in range(5)] + [(0, 200)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = {
            (r.node_type, r.id): r.score
            for r in dedup.hits(df, iters=2).collect()
        }
        assert out[("auth", 100)] > out[("auth", 200)]
        # the broad consumer (user 0 buys both) out-hubs the rest
        assert out[("hub", 0)] >= max(
            out[("hub", u)] for u in range(1, 5)
        )

    def test_partition_invariance(self, spark):
        edges = [(u, 100 + (u * 7) % 13) for u in range(40)] + [
            (u, 100 + (u * 11) % 13) for u in range(40)
        ]
        df = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
        a = sorted(
            dedup.hits(df.repartition(9), iters=2).collect(),
            key=lambda r: (r.node_type, r.id),
        )
        b = sorted(
            dedup.hits(df.coalesce(1), iters=2).collect(),
            key=lambda r: (r.node_type, r.id),
        )
        assert a == b


class TestRougeN:
    def _run(self, spark, ref, cand):
        docs = spark.createDataFrame(
            [(1, ref), (2, cand)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2)], "ref_id long, cand_id long")
        out = text.rouge_n(pairs, docs).collect()
        return {r.n: r for r in out}

    def test_hand_computed_example(self, spark):
        got = self._run(
            spark, "the cat sat on the mat", "the cat ran on the mat"
        )
        r1 = got[1]
        # unigram clipped overlap: the(2) cat(1) on(1) mat(1) = 5 of 6
        assert (r1.overlap, r1.ref_total, r1.cand_total) == (5, 6, 6)
        assert r1.recall == r1.precision == r1.f1 == round(5 / 6, 9)
        r2 = got[2]
        # bigrams: "the cat", "on the", "the mat" shared = 3 of 5
        assert (r2.overlap, r2.ref_total, r2.cand_total) == (3, 5, 5)
        assert r2.recall == round(3 / 5, 9)

    def test_identical_pair_scores_one(self, spark):
        got = self._run(spark, "a b c d e", "a b  C d e")  # normalization
        assert got[1].f1 == 1.0 and got[2].f1 == 1.0

    def test_empty_bigram_side_is_null(self, spark):
        got = self._run(spark, "single", "two words here")
        assert got[2].ref_total == 0
        # recall's denominator is the empty side -> NULL; precision and
        # the collapsed F1 = 2*ov/(tr+tc) still have mass to divide by
        assert got[2].recall is None
        assert got[2].precision == 0.0 and got[2].f1 == 0.0
        assert got[2].overlap == 0
        # both sides empty -> every ratio NULL
        both = self._run(spark, "one", "two")
        assert both[2].recall is None and both[2].f1 is None

    def test_disjoint_pair_scores_zero(self, spark):
        got = self._run(spark, "alpha beta gamma", "delta epsilon zeta")
        assert got[1].overlap == 0 and got[1].f1 == 0.0

    def test_clipping_uses_min_count(self, spark):
        # ref has 'the' x3, cand x1 -> clipped contribution is 1
        got = self._run(spark, "the the the end", "the end")
        assert got[1].overlap == 2  # the(1) + end(1)
        assert got[1].recall == 0.5 and got[1].precision == 1.0


class TestNbCalibration:
    def test_bands_partition_the_corpus(self, spark):
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        rows = entry.queries()["nb_calibration"](spark, sf).collect()
        assert rows
        n_docs = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("text").isNotNull())
            .count()
        )
        assert sum(r.n_docs for r in rows) == n_docs
        for r in rows:
            assert 0 <= r.margin_band <= 9
            assert 0 <= r.n_correct <= r.n_docs
            assert r.accuracy == round(r.n_correct / r.n_docs, 9)


class TestGramNovelty:
    @staticmethod
    def _brute(texts, n):
        def grams(t):
            ws = [w for w in t.lower().strip().split() if w]
            return {
                " ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)
            }
        gsets = {i: grams(t) for i, t in texts}
        first = {}
        for i in sorted(gsets):
            for g in gsets[i]:
                first.setdefault(g, i)
        return {
            i: (
                len(gs),
                sum(1 for g in gs if first[g] == i),
                round(sum(1 for g in gs if first[g] == i) / len(gs), 9),
            )
            for i, gs in gsets.items()
            if gs
        }

    def test_matches_python_brute_force(self, spark):
        texts = [
            (1, "a b c d e"),
            (2, "a b c d e"),            # exact copy -> novelty 0
            (3, "c d e f g"),            # partial overlap with 1
            (4, "x y z w v"),            # all new -> novelty 1
            (5, "a b"),                  # too short for n=3, omitted
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        out = dedup.gram_novelty(df, n=3)
        got = {
            r.doc_id: (r.n_grams, r.n_novel, r.novelty)
            for r in out.collect()
        }
        assert got == self._brute(texts, 3)
        assert got[1][2] == 1.0 and got[2][2] == 0.0 and got[4][2] == 1.0

    def test_repeated_gram_counted_once(self, spark):
        # "a b a b" has positional grams [a b, b a, a b] -> 2 DISTINCT
        df = spark.createDataFrame(
            [(1, "a b a b")], "doc_id long, text string"
        )
        r = dedup.gram_novelty(df, n=2).collect()[0]
        assert r.n_grams == 2 and r.novelty == 1.0

    def test_order_is_ingestion_order(self, spark):
        # the LOWER id owns first occurrence regardless of row order
        df = spark.createDataFrame(
            [(9, "p q r s"), (2, "p q r s")], "doc_id long, text string"
        ).repartition(4)
        got = {
            r.doc_id: r.novelty
            for r in dedup.gram_novelty(df, n=2).collect()
        }
        assert got[2] == 1.0 and got[9] == 0.0


class TestKappaClassifiers:
    def test_kappa_matches_python_recompute(self, spark):
        """The kappa arithmetic must equal a python recompute from the
        two classifier outputs (which are themselves oracled by
        nb_confusion / language_id); also pins the po/pe/kappa identity
        kappa ~= (po - pe) / (1 - pe)."""
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        row = entry.queries()["kappa_classifiers"](spark, sf).collect()[0]

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        q = entry.queries()
        nb = q["nb_lang_scores"](spark, sf)
        from pyspark.sql import Window as W

        w = W.partitionBy("doc_id").orderBy(
            F.desc("log_score"), F.asc("score_lang")
        )
        p1 = {
            r.doc_id: r.score_lang
            for r in nb.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .collect()
        }
        p2 = {
            r.doc_id: r.lang_pred
            for r in text.language_id(docs).collect()
        }
        both = [(p1[d], p2[d]) for d in p1 if d in p2]
        N = len(both)
        A = sum(1 for a, b in both if a == b)
        labels = {a for a, _ in both} | {b for _, b in both}
        S = sum(
            sum(1 for a, _ in both if a == l)
            * sum(1 for _, b in both if b == l)
            for l in labels
        )
        assert (row.n_docs, row.n_agree) == (N, A)
        assert row.po == round(A / N, 9)
        assert row.pe == round(S / (N * N), 9)
        assert row.kappa == round((N * A - S) / (N * N - S), 9)
        assert abs(row.kappa - (row.po - row.pe) / (1 - row.pe)) < 1e-6


class TestNdcgEval:
    def test_matches_python_recompute(self, spark):
        """Recompute NDCG@10 in python from the (independently oracled)
        BM25 lists and the raw texts — identical rel grading,
        quantization, and ideal ordering."""
        import math

        import __spark_entry__ as entry
        from openseize_spark.registry import common

        sf = "/root/testdata/sf0.001"
        got = {
            r.query_id: (r.dcg_units, r.idcg_units, r.ndcg)
            for r in entry.queries()["ndcg_eval"](spark, sf).collect()
        }

        bm = entry.queries()["bm25_topk"](spark, sf).collect()
        texts = {
            r.doc_id: set(
                w for w in r.text.lower().strip().split() if w
            )
            for r in spark.read.parquet(f"{sf}/documents.parquet")
            .filter(F.col("text").isNotNull())
            .collect()
        }
        qterms = {
            qid: set(s.split()) for qid, s in common._BM25_QUERIES.items()
        }
        exp = {}
        for qid in qterms:
            rows = sorted(
                [r for r in bm if r.query_id == qid], key=lambda r: r.rank
            )
            rels = [
                len(qterms[qid] & texts.get(r.doc_id, set())) for r in rows
            ]
            u = lambda rel, rank: int(
                round((float((1 << rel) - 1) / math.log2(rank + 1.0)) * 1e9)
            )
            dcg = sum(u(rel, r.rank) for rel, r in zip(rels, rows))
            # ideal order: rel desc (tie order irrelevant to the sum)
            idcg = sum(
                u(rel, i + 1)
                for i, rel in enumerate(sorted(rels, reverse=True))
            )
            exp[qid] = (dcg, idcg, round(dcg / idcg, 9) if idcg else None)
        assert got == exp
        for dcg, idcg, ndcg in got.values():
            assert 0 < dcg <= idcg and 0 < ndcg <= 1.0


class TestRocAucBinned:
    def test_matches_python_recompute(self, spark):
        """Recompute the binned Mann-Whitney AUC in python from the
        (independently oracled) NB scores: same one-vs-rest margin,
        same fixed 1024-bin grid, same midrank tie handling, same
        single division."""
        import math

        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        row = entry.queries()["roc_auc_binned"](spark, sf).collect()[0]

        nb = entry.queries()["nb_lang_scores"](spark, sf).collect()
        sen, sot, nt = {}, {}, {}
        for r in nb:
            if r.score_lang == "en":
                sen[r.doc_id] = r.log_score
                nt[r.doc_id] = r.n_tokens
            else:
                sot[r.doc_id] = max(
                    sot.get(r.doc_id, float("-inf")), r.log_score
                )
        langs = {
            r.doc_id: r.lang
            for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
        }
        hist = {}
        for d in sen:
            s = (sen[d] - sot[d]) / float(nt[d])
            b = min(max(math.floor((s + 0.5) * 1024.0), 0), 1023)
            p, n = hist.get(b, (0, 0))
            if langs[d] == "en":
                hist[b] = (p + 1, n)
            else:
                hist[b] = (p, n + 1)
        n_pos = sum(p for p, _ in hist.values())
        n_neg = sum(n for _, n in hist.values())
        u2 = 0
        for b, (p, n) in hist.items():
            nbelow = sum(n2 for b2, (_, n2) in hist.items() if b2 < b)
            u2 += p * (2 * nbelow + n)
        assert (row.n_pos, row.n_neg, row.u2) == (n_pos, n_neg, u2)
        assert row.auc == round(u2 / (2 * n_pos * n_neg), 9)
        # the margin must separate en docs better than chance
        assert row.auc > 0.55


class TestBfsDistances:
    @staticmethod
    def _brute(edges, seeds, max_hops):
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        dist = {s: 0 for s in seeds}
        frontier = set(seeds)
        for h in range(1, max_hops + 1):
            nxt = set()
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        nxt.add(v)
            for v in nxt:
                dist[v] = h
            frontier = nxt
            if not frontier:
                break
        return dist

    def _run(self, spark, edges, seeds, max_hops):
        e = spark.createDataFrame(edges, "a long, b long")
        s = spark.createDataFrame([(x,) for x in seeds], "id long")
        return {
            r.id: r.dist
            for r in dedup.bfs_distances(e, s, max_hops=max_hops).collect()
        }

    def test_matches_python_brute_force(self, spark):
        # two chains sharing a hub + an unreachable island
        edges = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7), (8, 9)]
        for hops in (1, 2, 4):
            got = self._run(spark, edges, [1], hops)
            assert got == self._brute(edges, [1], hops), f"hops={hops}"
        # island absent at any hop budget
        assert 8 not in self._run(spark, edges, [1], 4)

    def test_multi_source_takes_nearest(self, spark):
        edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
        got = self._run(spark, edges, [1, 5], 4)
        assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}

    def test_early_break_on_empty_frontier(self, spark):
        # diameter 1; max_hops 4 must not add rows or fail
        got = self._run(spark, [(1, 2)], [1], 4)
        assert got == {1: 0, 2: 1}

    def test_isolated_seed_kept_at_zero(self, spark):
        got = self._run(spark, [(1, 2)], [99], 3)
        assert got == {99: 0}


class TestTargetEncode:
    def test_matches_python_recompute(self, spark):
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        rows = entry.queries()["target_encode"](spark, sf).collect()
        c = spark.read.parquet(f"{sf}/customer.parquet").collect()
        cents = {r.c_custkey: int(round(r.c_acctbal * 100)) for r in c}
        groups = {}
        for r in c:
            s, n = groups.get(r.c_nationkey, (0, 0))
            groups[r.c_nationkey] = (s + cents[r.c_custkey], n + 1)
        assert len(rows) == len(c)
        for r in rows:
            s, n = groups[r.nationkey]
            assert r.acctbal_cents == cents[r.custkey]
            if n == 1:
                assert r.loo_cents is None
            else:
                assert r.loo_cents == (s - cents[r.custkey]) / (n - 1)

    def test_loo_excludes_own_row(self, spark):
        # two-row group: each row's encoding is exactly the OTHER value
        df = spark.createDataFrame(
            [(1, 10, 100.0), (2, 10, 300.0), (3, 20, 50.0)],
            "c_custkey long, c_nationkey long, c_acctbal double",
        )
        import __spark_entry__  # noqa: F401 — same formula, inline here
        from pyspark.sql import functions as FF

        cents = FF.round(FF.col("c_acctbal") * 100).cast("bigint")
        base = df.select("c_custkey", "c_nationkey", cents.alias("_c"))
        g = base.groupBy("c_nationkey").agg(
            FF.sum("_c").cast("bigint").alias("_s"),
            FF.count("*").cast("bigint").alias("_n"),
        )
        out = {
            r.c_custkey: r.loo
            for r in base.join(FF.broadcast(g), on="c_nationkey")
            .select(
                "c_custkey",
                (
                    (FF.col("_s") - FF.col("_c")).cast("double")
                    / FF.nullif(
                        (FF.col("_n") - 1).cast("double"), FF.lit(0.0)
                    )
                ).alias("loo"),
            )
            .collect()
        }
        assert out[1] == 30000.0 and out[2] == 10000.0
        assert out[3] is None


class TestRougeVerify:
    def test_composes_lsh_candidates_with_rouge(self, spark):
        """rouge_verify must equal rouge_n run directly over the LSH
        candidate pairs — the composition adds nothing but plumbing."""
        import __spark_entry__ as entry

        sf = "/root/testdata/sf0.001"
        got = {
            (r.ref_id, r.cand_id, r.n): (r.overlap, r.recall, r.f1)
            for r in entry.queries()["rouge_verify"](spark, sf).collect()
        }
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        sigs = dedup.minhash_signatures(
            docs, k=5, num_hashes=64, portable=True
        )
        cand = dedup.minhash_lsh_pairs(sigs, bands=8, portable=True)
        pairs = cand.select(
            F.col("a").alias("ref_id"), F.col("b").alias("cand_id")
        )
        exp = {
            (r.ref_id, r.cand_id, r.n): (r.overlap, r.recall, r.f1)
            for r in text.rouge_n(pairs, docs).collect()
        }
        assert got == exp
        assert got  # the candidate set is non-empty at sf0.001
        # candidates are near-dups: overlap signal should be present
        assert any(v[0] > 0 for v in got.values())


class TestRankStatsBruteForce:
    """mannwhitney_binned / spearman_binned / corr_matrix vs exact
    python replays over the real sf0.001 tables — catches the
    both-engines-agree-but-wrong class the oracle gate cannot."""

    @staticmethod
    def _events_pd():
        import duckdb

        return duckdb.sql(
            "SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,"
            " CAST(hour(ts) AS BIGINT) AS h"
            " FROM '/root/testdata/sf0.001/events.parquet'"
            " WHERE user_id IS NOT NULL AND value IS NOT NULL"
        ).df()

    @staticmethod
    def _midranks(vals):
        """value -> doubled midrank (2R) over the multiset, via sort."""
        import collections

        cnt = collections.Counter(vals)
        out, below = {}, 0
        for v in sorted(cnt):
            t = cnt[v]
            out[v] = 2 * below + t + 1
            below += t
        return out

    def test_mannwhitney_matches_sorted_replay(self, spark):
        import math

        import __spark_entry__ as entry

        df = self._events_pd()
        df = df[df.event_type.isin(["purchase", "view"])]
        bins = (df.c * 1024 / 49003.0).apply(math.floor).astype(int)
        a = bins[df.event_type == "purchase"].tolist()
        b = bins[df.event_type == "view"].tolist()
        r2 = self._midranks(a + b)
        na, nb, n = len(a), len(b), len(a) + len(b)
        two_ra = sum(r2[v] for v in a)
        two_u = two_ra - na * (na + 1)
        import collections

        t3t = sum(
            t**3 - t for t in collections.Counter(a + b).values()
        )
        kk = (n + 1) * n * (n - 1) - t3t
        var4 = na * nb * float(kk) / (3.0 * n * (n - 1))
        z = (two_u - na * nb) / math.sqrt(var4)
        auc = two_u / (2.0 * na * nb)

        r = (
            entry.queries()["mannwhitney_binned"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        )[0]
        assert (r.na, r.nb, r.two_u, r.sum_t3_t) == (na, nb, two_u, t3t)
        assert abs(r.auc - auc) < 1e-9
        assert abs(r.z - z) < 1e-9

    def test_spearman_matches_sorted_replay(self, spark):
        import math

        import __spark_entry__ as entry

        df = self._events_pd()
        df = df[df.event_type == "purchase"]
        bx = (df.c * 1024 / 49003.0).apply(math.floor).astype(int).tolist()
        bh = df.h.tolist()
        rx, ry = self._midranks(bx), self._midranks(bh)
        xs = [rx[v] for v in bx]
        ys = [ry[v] for v in bh]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        syy = sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        rho = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )

        r = (
            entry.queries()["spearman_binned"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        )[0]
        assert (r.n, r.sum_rx, r.sum_ry) == (n, sx, sy)
        assert (r.sum_rx2, r.sum_ry2, r.sum_rxy) == (sxx, syy, sxy)
        assert abs(r.rho - rho) < 1e-9

    def test_corr_matrix_matches_numpy(self, spark):
        import duckdb
        import numpy as np

        import __spark_entry__ as entry

        pdf = duckdb.sql(
            "SELECT CAST(round(l_quantity) AS BIGINT) AS quantity,"
            " CAST(round(l_extendedprice * 100) AS BIGINT) AS price,"
            " CAST(round(l_discount * 100) AS BIGINT) AS discount,"
            " CAST(round(l_tax * 100) AS BIGINT) AS tax"
            " FROM '/root/testdata/sf0.001/lineitem.parquet'"
        ).df()
        m = np.corrcoef(
            np.stack(
                [pdf.quantity, pdf.price, pdf.discount, pdf.tax]
            ).astype(float)
        )
        names = ["quantity", "price", "discount", "tax"]
        got = {
            (r.col_a, r.col_b): (r.n, r.corr)
            for r in entry.queries()["corr_matrix"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert len(got) == 6
        for i, a in enumerate(names):
            for j in range(i + 1, len(names)):
                n, corr = got[(a, names[j])]
                assert n == len(pdf)
                assert abs(corr - m[i, j]) < 1e-7


class TestBleuVerifyBruteForce:
    """BLEU-2 pivot/formula vs a from-scratch python BLEU on synthetic
    docs (clipped n-gram counts, brevity penalty, geometric mean)."""

    @staticmethod
    def _bleu(ref, cand):
        import math
        from collections import Counter

        def grams(ws, n):
            return Counter(tuple(ws[i:i + n]) for i in range(len(ws) - n + 1))

        r, c = ref.split(), cand.split()
        out = {}
        for n in (1, 2):
            gr, gc = grams(r, n), grams(c, n)
            clip = sum(min(gc[g], gr.get(g, 0)) for g in gc)
            out[n] = (clip, sum(gc.values()))
        p1 = out[1][0] / out[1][1] if out[1][1] else None
        p2 = out[2][0] / out[2][1] if out[2][1] else None
        bp = 1.0 if len(r) <= len(c) else math.exp(1.0 - len(r) / len(c))
        bleu = (
            bp * math.sqrt(p1 * p2)
            if p1 is not None and p2 is not None
            else None
        )
        return len(r), len(c), p1, p2, bp, bleu

    def test_matches_python(self, spark):
        import pyspark.sql.functions as F

        from openseize_spark.llm import text as llm_text

        docs_rows = [
            (0, "the cat sat on the mat"),
            (1, "the cat sat on the mat today"),
            (2, "a dog ran far away from the cat and the mat entirely"),
            (3, "the cat sat"),
            (4, "one"),
        ]
        pairs_rows = [(0, 1), (0, 2), (2, 3), (0, 4), (3, 0)]
        docs = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in docs_rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        pairs = spark.createDataFrame(
            pairs_rows, "ref_id long, cand_id long"
        )
        r = llm_text.rouge_n(pairs, docs)
        piv = r.groupBy("ref_id", "cand_id").agg(
            F.max(F.when(F.col("n") == 1, F.col("overlap"))).alias("o1"),
            F.max(F.when(F.col("n") == 1, F.col("ref_total"))).alias("r1"),
            F.max(F.when(F.col("n") == 1, F.col("cand_total"))).alias("c1"),
            F.max(F.when(F.col("n") == 2, F.col("overlap"))).alias("o2"),
            F.max(F.when(F.col("n") == 2, F.col("cand_total"))).alias("c2"),
        )
        p1 = F.col("o1") / F.nullif(F.col("c1").cast("double"), F.lit(0.0))
        p2 = F.col("o2") / F.nullif(F.col("c2").cast("double"), F.lit(0.0))
        bp = F.when(F.col("r1") <= F.col("c1"), F.lit(1.0)).otherwise(
            F.exp(1.0 - F.col("r1").cast("double") / F.col("c1").cast("double"))
        )
        got = {
            (r_.ref_id, r_.cand_id): r_
            for r_ in piv.select(
                "ref_id", "cand_id", "r1", "c1",
                p1.alias("p1"), p2.alias("p2"), bp.alias("bp"),
                (bp * F.sqrt(p1 * p2)).alias("bleu2"),
            ).collect()
        }
        texts = dict(docs_rows)
        for ref_id, cand_id in pairs_rows:
            rl, cl, p1e, p2e, bpe, bleue = self._bleu(
                texts[ref_id], texts[cand_id]
            )
            g = got[(ref_id, cand_id)]
            assert (g.r1, g.c1) == (rl, cl)
            for a, b in ((g.p1, p1e), (g.p2, p2e), (g.bp, bpe), (g.bleu2, bleue)):
                if b is None:
                    assert a is None
                else:
                    assert abs(a - b) < 1e-12


class TestDedupDiagnosticsConsistency:
    """Cross-query invariants pinning the sweep and size histogram to
    the independently-gated dedup layers at sf0.001."""

    def test_sweep_monotone_and_anchored_at_80(self, spark):
        import __spark_entry__ as entry
        from openseize_spark.registry import common

        qs = entry.queries()
        sweep = {
            r.pct: (r.n_pairs, r.n_docs_flagged)
            for r in qs["dedup_threshold_sweep"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert sorted(sweep) == [50, 55, 60, 65, 70, 75, 80, 85, 90, 95]
        pcts = sorted(sweep)
        for a, b in zip(pcts, pcts[1:]):
            assert sweep[a][0] >= sweep[b][0]
            assert sweep[a][1] >= sweep[b][1]
        # the 80% grid point IS the minhash_dedup working point: pairs
        # with jaccard >= 0.8 == the verified vp edge set
        from openseize_spark.llm import dedup as d

        docs = common._t(spark, "/root/testdata/sf0.001", "documents")
        sigs = d.minhash_signatures(docs, k=5, num_hashes=64, portable=True)
        cand = d.minhash_lsh_pairs(sigs, bands=8, portable=True)
        vp = d.jaccard_verify(docs, cand, k=5, threshold=0.8)
        assert sweep[80][0] == vp.count()

    def test_size_dist_covers_all_clustered_docs(self, spark):
        import __spark_entry__ as entry

        qs = entry.queries()
        dist = qs["cluster_size_dist"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        clusters = qs["dedup_clusters"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert sum(r.n_docs for r in dist) == len(clusters)
        assert sum(r.n_clusters for r in dist) == len(
            {r.component for r in clusters}
        )
        assert all(r.cluster_size >= 2 for r in dist)


class TestTClosenessBruteForce:
    def test_matches_python_emd(self, spark):
        import math
        from collections import Counter, defaultdict

        import duckdb

        import __spark_entry__ as entry

        pdf = duckdb.sql(
            "SELECT CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,"
            " CAST(floor((c_acctbal + CAST(10000 AS DOUBLE))"
            " / CAST(1000 AS DOUBLE)) AS BIGINT) AS band"
            " FROM '/root/testdata/sf0.001/customer.parquet'"
        ).df()
        rows = list(zip(pdf.nat, pdf.seg, pdf.band))
        bands = sorted({b for _, _, b in rows})
        N, m = len(rows), len(bands)
        gband = Counter(b for _, _, b in rows)
        groups = defaultdict(Counter)
        for nat, seg, b in rows:
            groups[(nat, seg)][b] += 1
        exp = {}
        for key, cnt in groups.items():
            ng = sum(cnt.values())
            cum_g = cum_all = num = 0
            for b in bands:
                cum_g += cnt.get(b, 0)
                cum_all += gband[b]
                num += abs(cum_g * N - cum_all * ng)
            exp[key] = (ng, num, num / (ng * N * (m - 1)))
        got = {
            (r.nationkey, r.mktsegment): (r.n_rows, r.emd_num, r.t)
            for r in entry.queries()["t_closeness"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert set(got) == set(exp)
        for k, (ng, num, t) in exp.items():
            assert got[k][0] == ng
            assert got[k][1] == num
            assert abs(got[k][2] - t) < 1e-9


class TestWindowRollupBruteForce:
    """reset_running_sum / zero_crossing_rate vs python replays over the
    real sf0.001 tables."""

    def test_reset_running_sum_matches_replay(self, spark):
        from collections import defaultdict

        import duckdb

        import __spark_entry__ as entry

        pdf = duckdb.sql(
            "SELECT event_id, user_id, ts, event_type,"
            " coalesce(CAST(round(value * 100) AS BIGINT), 0) AS c"
            " FROM '/root/testdata/sf0.001/events.parquet'"
            " WHERE user_id IS NOT NULL ORDER BY user_id, ts, event_id"
        ).df()
        exp = {}
        seg = defaultdict(int)
        run = defaultdict(int)
        for r in pdf.itertuples():
            u = r.user_id
            if r.event_type == "purchase":
                seg[u] += 1
                run[(u, seg[u])] = 0
            run[(u, seg[u])] += int(r.c)
            exp[r.event_id] = (seg[u], run[(u, seg[u])])
        got = {
            r.event_id: (r.segment, r.run_cents)
            for r in entry.queries()["reset_running_sum"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert got == exp

    def test_zero_crossing_rate_matches_numpy(self, spark):
        import duckdb

        import __spark_entry__ as entry

        pdf = duckdb.sql(
            "SELECT CAST(l_orderkey % 4 AS INT) AS channel,"
            " CAST(row_number() OVER (PARTITION BY l_orderkey % 4"
            "   ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey)"
            "   - 1 AS BIGINT) AS t,"
            " CAST((l_partkey*7 + l_linenumber*13 + l_suppkey*3) % 1024"
            "   AS DOUBLE) / 1024.0 AS v"
            " FROM '/root/testdata/sf0.001/lineitem.parquet'"
            " ORDER BY channel, t"
        ).df()
        exp = {}
        for ch in sorted(pdf.channel.unique()):
            vs = (pdf[pdf.channel == ch].v - 0.5).tolist()
            for i, v in enumerate(vs):
                frame = i // 256
                key = (ch, frame)
                n, s = exp.get(key, (0, 0))
                x = 1 if i % 256 != 0 and vs[i - 1] * v < 0 else 0
                exp[key] = (n + x, s + 1)
        got = {
            (r.channel, r.frame): (r.n_cross, r.n_samples)
            for r in entry.queries()["zero_crossing_rate"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert got == exp


class TestEvalCurvesBruteForce:
    """pr_auc_binned / map_eval / stationary_markov vs python replays
    built from the independently-gated layer outputs at sf0.001."""

    def test_pr_auc_matches_replay(self, spark):
        import math
        from collections import defaultdict

        import duckdb

        import __spark_entry__ as entry

        qs = entry.queries()
        nb = qs["nb_lang_scores"](spark, "/root/testdata/sf0.001").collect()
        per = defaultdict(dict)
        for r in nb:
            per[r.doc_id][r.score_lang] = (r.log_score, r.n_tokens)
        truth = dict(
            duckdb.sql(
                "SELECT doc_id, lang FROM"
                " '/root/testdata/sf0.001/documents.parquet'"
            ).fetchall()
        )
        hist = defaultdict(lambda: [0, 0])
        for doc_id, scores in per.items():
            sen, nt = scores["en"]
            sot = max(v[0] for k, v in scores.items() if k != "en")
            b = min(max(math.floor(((sen - sot) / nt + 0.5) * 1024.0), 0), 1023)
            hist[b][0 if truth[doc_id] == "en" else 1] += 1
        P = sum(v[0] for v in hist.values())
        N = sum(v[1] for v in hist.values())
        units = 0
        for b, (pos, neg) in hist.items():
            tp = sum(v[0] for b2, v in hist.items() if b2 >= b)
            fp = sum(v[1] for b2, v in hist.items() if b2 >= b)
            units += round(1e9 * (pos * tp) / (P * (tp + fp)))
        r = qs["pr_auc_binned"](spark, "/root/testdata/sf0.001").collect()[0]
        assert (r.n_pos, r.n_neg, r.ap_units) == (P, N, units)
        assert abs(r.pr_auc - units / 1e9) < 1e-12

    def test_map_matches_replay(self, spark):
        from collections import defaultdict

        import __spark_entry__ as entry

        qs = entry.queries()
        sf = "/root/testdata/sf0.001"
        truth = defaultdict(set)
        for r in qs["knn_cosine"](spark, sf).collect():
            truth[r.q_id].add(r.vec_id)
        cand = defaultdict(list)
        for r in qs["ivf_topk"](spark, sf).collect():
            cand[r.q_id].append((r.rank, r.vec_id))
        exp = {}
        for q_id, lst in cand.items():
            lst.sort()
            hits = units = 0
            for rank, vec in lst:
                rel = 1 if vec in truth[q_id] else 0
                hits += rel
                units += rel * ((60 * hits) // rank)
            exp[q_id] = (hits, units)
        got = {
            r.q_id: (r.n_rel, r.ap_units, r.ap)
            for r in qs["map_eval"](spark, sf).collect()
        }
        assert set(got) == set(exp)
        for q_id, (hits, units) in exp.items():
            assert got[q_id][:2] == (hits, units)
            if hits:
                assert abs(got[q_id][2] - units / (60.0 * hits)) < 1e-12

    def test_stationary_markov_matches_int_replay(self, spark):
        from collections import defaultdict

        import duckdb

        import __spark_entry__ as entry

        pdf = duckdb.sql(
            "WITH s AS (SELECT event_type AS f, lead(event_type) OVER ("
            " PARTITION BY user_id ORDER BY ts, event_id) AS t"
            " FROM '/root/testdata/sf0.001/events.parquet'"
            " WHERE user_id IS NOT NULL)"
            " SELECT f, t, count(*) AS n FROM s WHERE t IS NOT NULL"
            " GROUP BY f, t"
        ).df()
        trans = defaultdict(dict)
        rt = defaultdict(int)
        for r in pdf.itertuples():
            trans[r.f][r.t] = int(r.n)
            rt[r.f] += int(r.n)
        pi = {s: 10**12 // 5 for s in trans}
        for _ in range(8):
            nxt = defaultdict(int)
            for s, u in pi.items():
                for t2, n in trans.get(s, {}).items():
                    nxt[t2] += (u * n) // rt[s]
            pi = dict(nxt)
        got = {
            r.event_type: r.pi_units
            for r in entry.queries()["stationary_markov"](
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert got == pi
        # mass is conserved up to the deterministic flooring leak
        assert 10**12 - sum(got.values()) < 8 * 25

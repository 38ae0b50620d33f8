"""Round-14 session: python brute-force replays and unit tests for
the gate-hardening + ADVICE fixes (both-engines-wrong insurance on
top of the DuckDB oracle gate)."""

import math
import os

import pytest


@pytest.fixture(scope="module")
def spark():
    from openseize_spark.session import get_spark

    return get_spark("round14-tests")


def _write_edges_tables(spark, d, edges):
    """Synthetic lineitem/orders pair whose join yields exactly the
    given (custkey, partkey) edges (the graph-query fixture idiom)."""
    li = [(i, p) for i, (_, p) in enumerate(edges)]
    od = [(i, c) for i, (c, _) in enumerate(edges)]
    spark.createDataFrame(
        li, "l_orderkey bigint, l_partkey bigint"
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        od, "o_orderkey bigint, o_custkey bigint"
    ).write.parquet(os.path.join(d, "orders.parquet"))


def _walk_replay(edges, length):
    """Python replay of llm/dedup.random_walks over the doubled-id
    undirected graph the registration builds."""
    M = 2147483647
    und = set()
    for c, p in edges:
        a, b = c * 2, p * 2 + 1
        und.add((a, b))
        und.add((b, a))
    adj = {}
    for x, y in sorted(und):
        adj.setdefault(x, []).append(y)
    walks = {}
    for seed in adj:
        node = seed
        path = [node]
        for s in range(1, length + 1):
            nbrs = adj[node]
            h = (seed % M) * 48271 + (node % M) * 69621 + s * 8191
            node = nbrs[h % len(nbrs)]
            path.append(node)
        walks[seed] = path
    return walks


def half_away(x):
    """Spark/DuckDB round(): half AWAY from zero (python round() is
    half-even and diverges on exact .5)."""
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


def test_sppmi_embed_brute_force(spark, tmp_path):
    """The distributed exact-integer power iteration == a python-int
    replay of walks -> skip-gram counts -> PMI -> SPPMI units ->
    6 rounds of matvec + sign*(abs*unit // max) renormalization."""
    import __spark_entry__ as entry

    edges = [
        (1, 1), (1, 2), (2, 1), (2, 3), (3, 2), (3, 3),
        (4, 1), (4, 4), (5, 5), (5, 2), (6, 3), (6, 5),
    ]
    d = str(tmp_path / "sf")
    _write_edges_tables(spark, d, edges)

    L, W, ROUNDS, UNIT = 4, 2, 6, 10**6
    walks = _walk_replay(edges, L)
    cnt: dict = {}
    for path in walks.values():
        for i, u in enumerate(path):
            for j, v in enumerate(path):
                if i != j and abs(i - j) <= W:
                    cnt[(u, v)] = cnt.get((u, v), 0) + 1
    T = sum(cnt.values())
    cu: dict = {}
    cv: dict = {}
    for (u, v), k in cnt.items():
        cu[u] = cu.get(u, 0) + k
        cv[v] = cv.get(v, 0) + k
    # SPPMI units: round-half-away of max(pmi, 0)*unit, identical
    # paren shape to the engine (greatest FIRST, then the scale
    # multiply)
    m: dict = {}
    for (u, v), k in cnt.items():
        pmi = math.log((k * T) / (cu[u] * cv[v]))
        su = half_away(max(pmi, 0.0) * float(UNIT))
        if su > 0:
            m[(u, v)] = su
    nodes = sorted({u for u, _ in m})
    vvec = {n: UNIT for n in nodes}
    for _ in range(ROUNDS):
        raw = {
            n: sum(su * vvec[v] for (u, v), su in m.items() if u == n)
            for n in nodes
        }
        mx = max(abs(x) for x in raw.values())
        vvec = {
            n: (
                -((-x if x < 0 else x) * UNIT // mx)
                if x < 0
                else (x * UNIT // mx)
            )
            for n, x in raw.items()
        }

    got = {
        r.node: r.vu
        for r in entry.queries()["sppmi_embed"](spark, d).collect()
    }
    assert got == vvec
    # the dominant eigenvector of a non-negative symmetric-support
    # matrix with a connected positive component has a well-defined
    # max-magnitude coordinate at the renorm scale
    assert max(abs(x) for x in got.values()) == UNIT


def test_stateful_page_hinkley_chunk_order(tmp_path):
    """The r14 ADVICE fix: chunks arriving out of global (ts,
    event_id) order within one micro-batch must produce the same
    carried state as a single globally-sorted chunk (the pre-fix code
    sorted each chunk independently and diverged)."""
    import pandas as pd

    from openseize_spark.streaming.stateful import (
        make_stateful_page_hinkley,
    )

    class FakeState:
        exists = False

        def __init__(self):
            self.updated = None

        def update(self, t):
            self.updated = t

        @property
        def get(self):  # pragma: no cover - unused when exists=False
            raise AssertionError

    def run(chunks):
        fn = make_stateful_page_hinkley()
        st = FakeState()
        outs = list(fn(("click",), iter(chunks), st))
        out = pd.concat(outs, ignore_index=True)
        return st.updated, out.sort_values("event_id").reset_index(
            drop=True
        )

    rows = pd.DataFrame(
        {
            "event_type": ["click"] * 6,
            "event_id": [1, 2, 3, 4, 5, 6],
            "ts": pd.to_datetime(
                [f"2024-01-01 00:00:0{i}" for i in range(6)]
            ),
            "value": [1.0, 5.0, 2.0, 8.0, 1.0, 9.0],
        }
    )
    # one sorted chunk vs two interleaved chunks: rows (1,3,5) and
    # (2,4,6) — each chunk is itself (ts, event_id)-sorted, so the
    # pre-fix per-chunk sort would NOT reconstruct global order
    st_single, out_single = run([rows])
    st_split, out_split = run(
        [rows.iloc[[0, 2, 4]], rows.iloc[[1, 3, 5]]]
    )
    assert st_single == st_split
    pd.testing.assert_frame_equal(out_single, out_split)


def test_stamp_batch_mtimes_orders_files(tmp_path):
    """The streaming-fixture mtime stamper yields strictly increasing
    per-batch mtimes regardless of write timing/granularity."""
    from openseize_spark.registry import common

    d = str(tmp_path)
    for i in range(3):
        os.makedirs(os.path.join(d, f"batch_{i}"))
        with open(os.path.join(d, f"batch_{i}", "part-0.parquet"), "w") as f:
            f.write("x")
    # simulate coarse-granularity ties: same mtime everywhere
    t0 = os.stat(os.path.join(d, "batch_0", "part-0.parquet")).st_mtime
    for i in range(3):
        os.utime(os.path.join(d, f"batch_{i}", "part-0.parquet"), (t0, t0))
    common._stamp_batch_mtimes(d, 3)
    mt = [
        os.stat(os.path.join(d, f"batch_{i}", "part-0.parquet")).st_mtime
        for i in range(3)
    ]
    assert mt[0] < mt[1] < mt[2]


def test_gate_decimal_casts_cover_registry_surface(spark, tmp_path):
    """Policy test for the gate casts: every query registered with
    ``casts=`` emits NO decimal-typed column after the cast (checked on
    the synthetic fixture for the graph queries — schema only, no
    execution)."""
    import __spark_entry__ as entry

    edges = [(1, 1), (1, 2), (2, 1)]
    d = str(tmp_path / "sf")
    _write_edges_tables(spark, d, edges)
    qs = entry.queries()
    for name in ("sp_counting", "betweenness_contrib"):
        schema = qs[name](spark, d).schema
        decs = [
            f.name
            for f in schema.fields
            if "decimal" in f.dataType.simpleString()
        ]
        assert decs == [], f"{name} leaks decimal columns: {decs}"


def _write_events(spark, d, rows):
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))


def _us(dt):
    import datetime

    return (dt - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
        microseconds=1
    )


def test_conformal_threshold_brute_force(spark, tmp_path):
    """Threshold == python replay: |c*n_tr - s_tr| nonconformity on
    the odd half, exact-int ceil((n_cal+1)*0.9) order statistic."""
    import datetime

    import __spark_entry__ as entry

    base = datetime.datetime(2024, 3, 1)
    vals = [100.0 + 7.13 * i - 3.0 * (i % 5) for i in range(41)]
    rows = [
        (i + 1, base + datetime.timedelta(minutes=i), 1, "a",
         float(v), "{}")
        for i, v in enumerate(vals)
    ]
    d = str(tmp_path / "sf")
    _write_events(spark, d, rows)

    cents = {i + 1: half_away(v * 100) for i, v in enumerate(vals)}
    tr = {k: c for k, c in cents.items() if k % 2 == 0}
    cal = {k: c for k, c in cents.items() if k % 2 == 1}
    n_tr, s_tr = len(tr), sum(tr.values())
    a = sorted((abs(c * n_tr - s_tr), k) for k, c in cal.items())
    n_cal = len(cal)
    k_idx = (9 * (n_cal + 1) + 9) // 10
    want = a[k_idx - 1][0]

    got = entry.queries()["conformal_threshold"](spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_train, r.n_cal, r.k_idx, r.q_units) == (
        n_tr, n_cal, k_idx, want,
    )


def test_psi_drift_brute_force(spark, tmp_path):
    """Per-bin PSI terms == python replay with a planted mean shift
    between halves (and the shifted type's terms dominate)."""
    import datetime
    import math

    import __spark_entry__ as entry

    base = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # type "a" drifts +50 in the second half; type "b" is stable
    for i in range(60):
        eid += 1
        v = 100.0 + (i % 10) + (50.0 if i >= 30 else 0.0)
        rows.append((eid, base + datetime.timedelta(minutes=i), 1,
                     "a", float(v), "{}"))
    for i in range(60):
        eid += 1
        rows.append((eid, base + datetime.timedelta(minutes=i), 1,
                     "b", float(20.0 + (i % 7)), "{}"))
    d = str(tmp_path / "sf")
    _write_events(spark, d, rows)

    want = {}
    for et in ("a", "b"):
        ev = [(r[0], _us(r[1]), half_away(r[4] * 100))
              for r in rows if r[3] == et]
        lo = min(u for _, u, _c in ev)
        hi = max(u for _, u, _c in ev)
        cmin = min(c for _, _u, c in ev)
        cmax = max(c for _, _u, c in ev)
        counts = {}
        for _, u, c in ev:
            b = ((c - cmin) * 10) // (cmax - cmin + 1)
            first = (u - lo) * 2 < hi - lo + 1
            p, q = counts.get(b, (0, 0))
            counts[b] = (p + (1 if first else 0), q + (0 if first else 1))
        np_ = sum(p for p, _ in counts.values())
        nq_ = sum(q for _, q in counts.values())
        for b, (p, q) in counts.items():
            ph = (p + 1) / (np_ + 10)
            qh = (q + 1) / (nq_ + 10)
            term = (ph - qh) * math.log(
                ((p + 1) * (nq_ + 10)) / ((q + 1) * (np_ + 10))
            )
            want[(et, b)] = (p, q, term)

    got = {
        (r.event_type, r.bin): (r.p_cnt, r.q_cnt, r.psi_term)
        for r in entry.queries()["psi_drift"](spark, d).collect()
    }
    assert set(got) == set(want)
    for k, (p, q, t) in want.items():
        gp, gq, gt = got[k]
        assert (gp, gq) == (p, q)
        assert abs(gt - t) < 1e-12
    # the drifted type's total PSI dwarfs the stable type's
    psi_a = sum(t for (et, _), (_, _, t) in want.items() if et == "a")
    psi_b = sum(t for (et, _), (_, _, t) in want.items() if et == "b")
    assert psi_a > 10 * max(psi_b, 1e-9)


def test_ess_weights_brute_force(spark, tmp_path):
    """ESS == (sum w)^2 / sum w^2 python replay; equal weights give
    ESS == n (ratio 1), one dominant weight collapses the ratio."""
    import __spark_entry__ as entry

    docs = (
        [(i, "t", "en", "flat", 100) for i in range(10)]
        + [(100, "t", "en", "spiky", 10000)]
        + [(101 + i, "t", "en", "spiky", 10) for i in range(9)]
    )
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        docs,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    got = {
        r.source: r
        for r in entry.queries()["ess_weights"](spark, d).collect()
    }
    for src in ("flat", "spiky"):
        ws = [w for _, _, _, s, w in docs if s == src]
        sw, sw2 = sum(ws), sum(w * w for w in ws)
        r = got[src]
        assert (r.n_docs, r.sum_w, r.sum_w2) == (len(ws), sw, sw2)
        ess = (float(sw) * float(sw)) / float(sw2)
        assert abs(r.ess - ess) < 1e-9
    assert abs(got["flat"].ess_ratio - 1.0) < 1e-12
    assert got["spiky"].ess_ratio < 0.2


def test_hodges_lehmann_binned_brute_force(spark, tmp_path):
    """Weighted bin-combo median == brute-force enumeration of ALL
    Walsh position pairs (i <= j) over the binned values."""
    import datetime

    import __spark_entry__ as entry

    base = datetime.datetime(2024, 3, 1)
    vals = [3.0, 3.0, 5.5, 9.25, 9.25, 9.25, 12.0, 40.0, 41.5, 2.25,
            7.75, 7.75]
    rows = [
        (i + 1, base + datetime.timedelta(minutes=i), 1, "a",
         float(v), "{}")
        for i, v in enumerate(vals)
    ]
    d = str(tmp_path / "sf")
    _write_events(spark, d, rows)

    cs = [half_away(v * 100) for v in vals]
    cmin, cmax = min(cs), max(cs)
    bs = [((c - cmin) * 512) // (cmax - cmin + 1) for c in cs]
    n = len(bs)
    pairs = sorted(
        bs[i] + bs[j] for i in range(n) for j in range(i, n)
    )
    P = len(pairs)
    want = pairs[(P + 1) // 2 - 1]

    got = entry.queries()["hodges_lehmann_binned"](spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n, r.p_pairs, r.hl_binsum) == (n, P, want)


def test_streaming_topk_matches_prefix_replay(spark, tmp_path):
    """The carried bottom-k state across three ts-cut micro-batches ==
    a python prefix replay with the portable salted-md5 priority."""
    import datetime
    import hashlib

    import __spark_entry__ as entry

    base = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for third in range(3):
        for i in range(12):
            eid += 1
            # type "b" is absent from the middle third: its second
            # snapshot must come from prefix (0, 2) — the present-
            # prefix discipline
            if third == 1 and i % 2 == 1:
                et = "a"
            else:
                et = "a" if i % 2 == 0 else "b"
            rows.append(
                (eid, base + datetime.timedelta(hours=third, minutes=i),
                 1, et, 1.0, "{}")
            )
    d = str(tmp_path / "sf")
    _write_events(spark, d, rows)

    def prio(e):
        return int(
            hashlib.md5(f"tk:{e}".encode()).hexdigest()[:8], 16
        )

    us = [_us(r[1]) for r in rows]
    lo, span = min(us), (max(us) - min(us)) // 3
    want = set()
    for et in ("a", "b"):
        cuts = []
        for r, u in zip(rows, us):
            if r[3] != et:
                continue
            gb = 0 if u < lo + span else (1 if u < lo + 2 * span else 2)
            cuts.append((gb, r[0]))
        present = sorted({gb for gb, _ in cuts})
        for bi, gb_cap in enumerate(present):
            pref = sorted(
                (prio(e), e) for gb, e in cuts if gb <= gb_cap
            )[:8]
            for rk, (p, e) in enumerate(pref, 1):
                want.add((et, bi, rk, e, p))

    got = {
        (r.event_type, r.batch_idx, r.rank, r.event_id, r.priority)
        for r in entry.queries()["streaming_topk"](spark, d).collect()
    }
    assert got == want


class TestTextExprRewrites:
    """Round-14 optimization invariants for llm/text.py: the two
    quality_expr forms and the bound/sorted n-gram rewrite must be
    value-identical to the naive trees they replaced."""

    CORPUS = [
        (0, ""),
        (1, "word"),
        (2, "the the the the the the"),
        (3, "a b a b a b a b a b a b"),
        (4, "The quick brown fox, with the lazy dog; is that for real!"),
        (5, "x " * 400),
        (6, "one two three four five six seven eight nine ten " * 30),
        (7, "  spaced   out\ttokens\nand the  rest  "),
        (8, None),
    ]

    def _docs(self, spark):
        return spark.createDataFrame(self.CORPUS, "doc_id long, text string")

    def test_quality_expr_forms_identical(self, spark):
        from pyspark.sql import functions as F

        from openseize_spark.llm import text as T

        docs = self._docs(spark)
        a = docs.select(
            "doc_id", T.quality_expr("text", bind_once=False).alias("q")
        )
        b = docs.select(
            "doc_id", T.quality_expr("text", bind_once=True).alias("q")
        )
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_dup_ngram_matches_naive_tree(self, spark):
        from pyspark.sql import functions as F

        from openseize_spark.llm import text as T
        from openseize_spark.llm.dedup import normalize_text

        n = 3
        norm = normalize_text(F.col("text"))
        words = F.when(
            F.length(norm) == 0, F.array().cast("array<string>")
        ).otherwise(F.split(norm, " "))
        nw = F.size(words)
        ngrams = F.when(
            nw >= n,
            F.transform(
                F.sequence(F.lit(1), F.greatest(nw - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(words, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        ng = F.size(ngrams)
        naive = F.when(
            ng > 0, 1.0 - F.size(F.array_distinct(ngrams)) / ng.cast("double")
        ).otherwise(F.lit(0.0))

        docs = self._docs(spark)
        a = docs.select("doc_id", naive.alias("d"))
        b = docs.select("doc_id", T.dup_ngram_frac_expr("text", n=n).alias("d"))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_repetition_stats_sorted_distinct(self, spark):
        from pyspark.sql import functions as F

        from openseize_spark.llm import text as T

        docs = self._docs(spark)
        got = {
            r.doc_id: (r.n_words, r.n_ngrams, r.dup_word_frac, r.dup_ngram_frac)
            for r in T.repetition_stats(docs, n=3).collect()
        }
        # python replay of the documented semantics
        import re

        for doc_id, text in self.CORPUS:
            if text is None:
                assert got[doc_id][0] is None
                continue
            s = re.sub(r"\s+", " ", text.strip().lower())
            ws = s.split(" ") if s else []
            grams = (
                [" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)]
                if len(ws) >= 3
                else []
            )
            dw = 1.0 - len(set(ws)) / len(ws) if ws else 0.0
            dg = 1.0 - len(set(grams)) / len(grams) if grams else 0.0
            exp = (len(ws), len(grams), dw, dg)
            assert got[doc_id] == exp, (doc_id, got[doc_id], exp)

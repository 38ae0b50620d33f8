"""Round-11-session operators: ancestor chain closure, FastSS
edit-distance-1 join, Apriori frequent triples, budget-bounded weighted
SSSP, Heaps-law fit, stratified ATE.

Each operator gets a pure-python brute-force or property check of the
ALGORITHM (both-engines-wrong insurance — the DuckDB oracle gate can't
catch a shared misconception), plus a small Spark run compared against
that brute force.
"""

from __future__ import annotations

import itertools
import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F


PROP = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ------------------------------------------------------- ancestor chain


def test_ancestor_chain_brute_force(spark, tmp_path):
    """Chain closure == python recursion; seeds are the price-desc,
    key-asc top 5."""
    import __spark_entry__ as entry

    n = 300
    # prices descend with key so seeds are keys 0..4; a tie at the top
    # exercises the key tie-break
    rows = [
        (k, f"p{k}", "B", "T", 1, 999.99 if k in (0, 1) else float(n - k))
        for k in range(n)
    ]
    df = spark.createDataFrame(
        rows,
        "p_partkey bigint, p_name string, p_brand string,"
        " p_type string, p_size int, p_retailprice double",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/part.parquet")
    got = {
        r.k: (r.n_seeds, r.min_depth, r.own_cents)
        for r in entry.queries()["ancestor_chain"](spark, d).collect()
    }

    prices = {k: rows[k][5] for k in range(n)}
    seeds = sorted(range(n), key=lambda k: (-prices[k], k))[:5]
    cover: dict = {}
    for s in seeds:
        k, dep = s, 0
        while k > 0:
            ent = cover.setdefault(k, [0, dep])
            ent[0] += 1
            ent[1] = min(ent[1], dep)
            k, dep = (k - 1) // 4, dep + 1
    want = {
        k: (v[0], v[1], round(prices[k] * 100)) for k, v in cover.items()
    }
    assert got == want


# ----------------------------------------------------------- FastSS ED-1


def _lev(a: str, b: str) -> int:
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
        prev = cur
    return prev[n]


@given(
    words=st.lists(
        st.text(alphabet="abc0", min_size=1, max_size=6),
        min_size=2,
        max_size=25,
        unique=True,
    )
)
@settings(**PROP)
def test_fastss_ed1_pairs_exact(spark, words):
    """Deletion-neighborhood join == brute-force Levenshtein==1 over
    every pair, including insertion/deletion pairs of unequal length."""
    from openseize_spark.llm import text as llm_text

    df = spark.createDataFrame([(w,) for w in words], "c_name string")
    got = sorted(
        (r.name_a, r.name_b)
        for r in llm_text.fastss_ed1_pairs(df, col="c_name").collect()
    )
    want = sorted(
        (a, b)
        for a, b in itertools.combinations(sorted(words), 2)
        if _lev(a, b) == 1
    )
    assert got == want


# ------------------------------------------------------- Apriori triples


def test_apriori_triples_brute_force(spark, tmp_path):
    """Apriori with the downward-closure prune == brute-force support
    counting with the same basis-point thresholds."""
    import __spark_entry__ as entry

    # 40 orders, brands chosen so some pairs/triples clear the bars
    # and others don't
    baskets = {}
    for o in range(40):
        bs = {f"B{o % 3}", f"B{(o // 2) % 4}"}
        if o % 5 == 0:
            bs.add("B9")
        if o % 2 == 0:
            bs.add("B7")
        baskets[o] = bs
    li, pt = [], []
    pk = 0
    brand_key: dict = {}
    for o, bs in baskets.items():
        for b in sorted(bs):
            if b not in brand_key:
                brand_key[b] = len(brand_key)
            li.append((o, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O"))
            pt.append((pk, f"p{pk}", b, "T", 1, 1.0))
            pk += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [r + (None,) for r in li],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).write.parquet(d + "/lineitem.parquet")
    spark.createDataFrame(
        pt,
        "p_partkey bigint, p_name string, p_brand string,"
        " p_type string, p_size int, p_retailprice double",
    ).write.parquet(d + "/part.parquet")

    got = {
        (r.b1, r.b2, r.b3): r.support
        for r in entry.queries()["apriori_triples"](spark, d).collect()
    }

    n = len(baskets)
    s1: dict = {}
    for bs in baskets.values():
        for b in bs:
            s1[b] = s1.get(b, 0) + 1
    l1 = {b for b, c in s1.items() if c * 10000 >= 1000 * n}
    s2: dict = {}
    for bs in baskets.values():
        for a, b in itertools.combinations(sorted(bs & l1), 2):
            s2[(a, b)] = s2.get((a, b), 0) + 1
    l2 = {p for p, c in s2.items() if c * 10000 >= 180 * n}
    s3: dict = {}
    for bs in baskets.values():
        for a, b, c in itertools.combinations(sorted(bs & l1), 3):
            if (a, b) in l2 and (a, c) in l2 and (b, c) in l2:
                s3[(a, b, c)] = s3.get((a, b, c), 0) + 1
    want = {t: c for t, c in s3.items() if c * 10000 >= 20 * n}
    assert got == want


# ------------------------------------------------------- bounded SSSP


@given(
    edges=st.lists(
        st.tuples(
            st.integers(0, 9), st.integers(0, 9), st.integers(1, 5)
        ),
        min_size=1,
        max_size=40,
    ),
    budget=st.sampled_from([3, 8, 20]),
)
@settings(**PROP)
def test_sssp_bounded_vs_dijkstra(spark, edges, budget):
    """Frontier Bellman-Ford == python Dijkstra truncated at the
    budget, on arbitrary small weighted digraphs (parallel edges
    collapse to min weight, as in the registered query)."""
    import heapq

    from openseize_spark.llm import dedup

    emin: dict = {}
    for u, v, w in edges:
        emin[(u, v)] = min(emin.get((u, v), w), w)
    adj: dict = {}
    for (u, v), w in emin.items():
        adj.setdefault(u, []).append((v, w))
    dist = {0: 0}
    pq = [(0, 0)]
    while pq:
        dd, u = heapq.heappop(pq)
        if dd > dist.get(u, budget + 1):
            continue
        for v, w in adj.get(u, []):
            nd = dd + w
            if nd <= budget and nd < dist.get(v, budget + 1):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))

    edf = spark.createDataFrame(
        [(u, v, w) for (u, v), w in emin.items()],
        "u bigint, v bigint, w bigint",
    )
    got = {
        r.node: r.dist
        for r in dedup.sssp_bounded(edf, source=0, budget=budget).collect()
    }
    assert got == dist


# ------------------------------------------------------- Heaps-law fit


def test_heaps_law_fit_brute_force(spark, tmp_path):
    """Decile curve and slope == python reference on a synthetic
    corpus with genuinely growing vocabulary."""
    import __spark_entry__ as entry

    n = 200
    texts = []
    for i in range(n):
        # each doc introduces word w{i} and reuses early words
        texts.append(f"w{i} w0 w1 w{i // 2}")
    df = spark.createDataFrame(
        [(i, texts[i], "en", "src", len(texts[i])) for i in range(n)],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")
    rows = entry.queries()["heaps_law_fit"](spark, d).collect()
    got = {r.k: (r.n_docs, r.vocab) for r in rows}
    betas = {r.beta for r in rows}
    assert len(betas) == 1

    m = n  # max doc_id + 1
    tk = {k: (m * k) // 10 for k in range(1, 11)}
    want = {}
    xs, ys = [], []
    for k in range(1, 11):
        ids = [i for i in range(n) if i < tk[k]]
        vocab = set()
        for i in ids:
            vocab.update(texts[i].split())
        want[k] = (len(ids), len(vocab))
        xs.append(round(math.log(max(len(ids), 1)) * 1e9))
        ys.append(round(math.log(max(len(vocab), 1)) * 1e9))
    assert got == want
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    beta = float(10 * sxy - sx * sy) / float(10 * sxx - sx * sx)
    assert betas.pop() == pytest.approx(beta, rel=1e-12)


# ------------------------------------------------------ stratified ATE


def test_stratified_ate_brute_force(spark, tmp_path):
    """Cell table and quantized ATE == hand computation on a tiny
    synthetic population with a known effect."""
    import __spark_entry__ as entry

    # 2 nations x 1 segment; treated (even keys) spend 100.00 more
    custs, orders = [], []
    oid = 0
    for ck in range(40):
        nat = (ck // 2) % 2  # decoupled from the parity treatment
        custs.append((ck, f"Customer#{ck:09d}", nat, 0.0, "SEG"))
        base = 500.0 + 10.0 * nat
        spend = base + (100.0 if ck % 2 == 0 else 0.0)
        orders.append(
            (oid, ck, "O", spend, None, "1-URGENT")
        )
        oid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        custs,
        "c_custkey bigint, c_name string, c_nationkey bigint,"
        " c_acctbal double, c_mktsegment string",
    ).write.parquet(d + "/customer.parquet")
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    ).write.parquet(d + "/orders.parquet")

    rows = entry.queries()["stratified_ate"](spark, d).collect()
    assert len(rows) == 2  # one cell per nation
    for r in rows:
        assert r.n_treated == 10 and r.n_control == 10
        assert r.mean_treated_cents - r.mean_control_cents == pytest.approx(
            10000.0
        )
        # exact quantized ATE: every cell term is +100.00 exactly
        assert r.ate_cents == pytest.approx(10000.0)


# ------------------------------------------------------- pivot SCC


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=30,
    )
)
@settings(**PROP)
def test_pivot_scc_fwbw(spark, edges):
    """Forward-closure INTERSECT backward-closure == Tarjan-style
    python SCC membership of the pivot, on arbitrary small digraphs."""
    from openseize_spark.llm import dedup

    emin = sorted(set(edges))
    adj: dict = {}
    radj: dict = {}
    for u, v in emin:
        adj.setdefault(u, set()).add(v)
        radj.setdefault(v, set()).add(u)

    def closure(a: dict) -> set:
        seen, todo = {0}, [0]
        while todo:
            u = todo.pop()
            for v in a.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    todo.append(v)
        return seen

    want = closure(adj) & closure(radj)

    edf = spark.createDataFrame(
        [(u, v, 1) for u, v in emin], "u bigint, v bigint, w bigint"
    )
    fwd = dedup.sssp_bounded(edf, source=0, budget=64)
    bwd = dedup.sssp_bounded(
        edf.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "w"
        ),
        source=0,
        budget=64,
    )
    got = {
        r.node
        for r in fwd.join(bwd.select("node"), on="node").collect()
    }
    assert got == want


# -------------------------------------------------- term burstiness


def test_term_burstiness_brute_force(spark, tmp_path):
    """VMR over all docs (zero counts included) == python reference
    on a corpus with one bursty and one uniform term."""
    import __spark_entry__ as entry

    n = 20
    texts = []
    for i in range(n):
        t = ["base"]  # once per doc: Poisson-like, VMR < 1 here
        if i < 4:
            t += ["bursty"] * 10  # concentrated in few docs
        texts.append(" ".join(t))
    df = spark.createDataFrame(
        [(i, texts[i], "en", "s", len(texts[i])) for i in range(n)],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")
    rows = entry.queries()["term_burstiness"](spark, d).collect()
    got = {r.term: (r.total, r.df, r.vmr) for r in rows}

    def vmr(counts):
        s1 = sum(counts)
        s2 = sum(c * c for c in counts)
        return float(n * s2 - s1 * s1) / float(n * s1)

    b_counts = [10 if i < 4 else 0 for i in range(n)]
    u_counts = [1] * n
    assert got["bursty"] == (40, 4, pytest.approx(vmr(b_counts), rel=1e-12))
    assert got["base"] == (20, 20, pytest.approx(vmr(u_counts), rel=1e-12))
    # the uniform term is sub-Poisson, the bursty one super-Poisson
    assert got["base"][2] < 1.0 < got["bursty"][2]


# ------------------------------------------------------- grouped OLS


def test_ols_by_type_brute_force(spark, tmp_path):
    """Exact-moment grouped OLS == numpy lstsq on a hand-built series
    with a known slope and intercept."""
    import numpy as np
    import __spark_entry__ as entry

    rows = []
    eid = 0
    base_us = 86_400_000_000  # a day past the epoch (house rule)
    for typ, slope, icept in [("a", 2.5, 10.0), ("b", -1.25, 40.0)]:
        for i in range(50):
            t_us = base_us + i * 60_000_000
            v = icept + slope * i  # exact in binary: .25 steps
            rows.append((eid, t_us, eid % 7, typ, v, None))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts_us bigint, user_id bigint,"
        " event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/events.parquet")
    got = {
        r.event_type: (r.n, r.slope_units_per_us, r.intercept_units)
        for r in entry.queries()["ols_by_type"](spark, d).collect()
    }
    # reference: per-minute slope s maps to s*1e6 units / 60e6 us
    for typ, slope, icept in [("a", 2.5, 10.0), ("b", -1.25, 40.0)]:
        n, s_got, i_got = got[typ]
        assert n == 50
        assert s_got * 60_000_000 == pytest.approx(slope * 1e6, rel=1e-9)
        # intercept is at the GLOBAL min time (t=0 shift), which for
        # both groups is base_us, so it equals the series intercept
        assert i_got == pytest.approx(icept * 1e6, rel=1e-9)


# --------------------------------------------------- temporal reach


@given(
    edges=st.lists(
        st.tuples(
            st.integers(0, 7), st.integers(0, 7), st.integers(0, 20)
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**PROP)
def test_temporal_reach_brute_force(spark, edges):
    """Fixpoint frontier relaxation == python earliest-arrival
    label-correcting reference on arbitrary temporal digraphs."""
    from openseize_spark.llm import dedup

    es = sorted(set(edges))
    arr = {0: 0}
    changed = True
    while changed:
        changed = False
        for u, v, t in es:
            if u in arr and t >= arr[u] and t < arr.get(v, 10**9):
                arr[v] = t
                changed = True

    edf = spark.createDataFrame(es, "u bigint, v bigint, t bigint")
    got = {
        r.node: r.arrival
        for r in dedup.temporal_reach(edf, source=0).collect()
    }
    assert got == arr


# ------------------------------------------------- sp counting


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(10, 19)),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(**PROP)
def test_sp_counting_vs_reference(spark, edges):
    """Level-synchronous sigma accumulation == python BFS path
    counting on arbitrary bipartite graphs."""
    from openseize_spark.llm import dedup

    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {0: 0}
    sigma = {0: 1}
    frontier = [0]
    for hop in range(1, 5):
        nxt: dict = {}
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    nxt[v] = nxt.get(v, 0) + sigma[u]
        if not nxt:
            break
        for v, s in nxt.items():
            dist[v] = hop
            sigma[v] = s
        frontier = list(nxt)

    edf = spark.createDataFrame(
        [(a, b) for a, b in edges], "a bigint, b bigint"
    )
    got = {
        r.id: (r.dist, int(r.sigma))
        for r in dedup.sp_counting(edf, source=0, max_hops=4).collect()
    }
    want = {v: (dist[v], sigma[v]) for v in dist}
    assert got == want


# ----------------------------------------------------- BPE learn


def _bpe_reference(word_weights: dict, rounds: int):
    """Textbook BPE: weighted adjacent-pair counts, (count DESC, pair
    ASC) winner, leftmost non-overlapping merge."""
    seqs = {w: list(w) for w in word_weights}
    out = []
    for _ in range(rounds):
        counts: dict = {}
        for w, toks in seqs.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + word_weights[w]
        if not counts:
            break
        (p1, p2), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        out.append((f"{p1} {p2}", p1 + p2, c))
        for w, toks in seqs.items():
            new, i = [], 0
            while i < len(toks):
                if (
                    i + 1 < len(toks)
                    and toks[i] == p1
                    and toks[i + 1] == p2
                ):
                    new.append(p1 + p2)
                    i += 2
                else:
                    new.append(toks[i])
                    i += 1
            seqs[w] = new
    return out


def test_bpe_learn_brute_force(spark, tmp_path):
    """Engine BPE == textbook python BPE, including the run-parity
    case (repeated 'aa' merges) and weighted counts."""
    import __spark_entry__ as entry

    corpus = {
        "banana": 5,   # 'a n' twice per word -> likely first merge
        "bandana": 3,
        "aaaa": 4,     # run-parity: (a,a) counts 3x per word
        "naan": 2,
    }
    rows, did = [], 0
    for w, c in corpus.items():
        for _ in range(c):
            rows.append((did, w, "en", "s", len(w)))
            did += 1
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")
    got = [
        (r.pair, r.merged, r.weighted_count)
        for r in entry.queries()["bpe_learn"](spark, d)
        .orderBy("round")
        .collect()
    ]
    want = _bpe_reference(corpus, 3)
    assert got == want


# ----------------------------------------- r11 ADVICE precondition guards


def test_sssp_bounded_rejects_subunit_weights(spark):
    """r11 ADVICE: w < 1 would silently hop-truncate vs the oracle's
    weight-bounded recursion — the precondition is now enforced."""
    from openseize_spark.llm import dedup

    edf = spark.createDataFrame(
        [(0, 1, 0), (1, 2, 3)], "u bigint, v bigint, w bigint"
    )
    with pytest.raises(ValueError, match="weights >= 1"):
        dedup.sssp_bounded(edf, source=0, budget=8)


# ------------------------------------- Brandes backward phase (round 12)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    ),
)
@settings(**PROP)
def test_betweenness_contrib_vs_python_brandes(spark, edges):
    """Engine backward sweep == a python replica of the same quantized
    arithmetic, and ~= textbook float Brandes (BFS sigma + backward
    dependency accumulation) on arbitrary small undirected graphs."""
    from collections import deque

    from openseize_spark.llm import dedup

    UNIT = 1_000_000
    adj: dict = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # forward BFS from 0 (<= 4 hops), sigma counting
    dist = {0: 0}
    sigma = {0: 1}
    order = [0]
    qd = deque([0])
    while qd:
        u = qd.popleft()
        if dist[u] >= 4:
            continue
        for v in sorted(adj.get(u, ())):
            if v not in dist:
                dist[v] = dist[u] + 1
                sigma[v] = 0
                order.append(v)
                qd.append(v)
            if dist[v] == dist[u] + 1:
                sigma[v] += sigma[u]
    # backward: quantized replica (integer units, same formula)
    lmax = max(dist.values())
    du = {v: 0 for v in dist}
    for v in sorted(dist, key=lambda v: -dist[v]):
        if dist[v] == lmax:
            continue
        s = 0
        for w in adj.get(v, ()):
            if w in dist and dist[w] == dist[v] + 1:
                s += round(
                    (float(sigma[v]) / float(sigma[w]))
                    * (float(UNIT) + float(du[w]))
                )
        du[v] = s
    # float Brandes for the approximate sanity check
    delta_f = {v: 0.0 for v in dist}
    for v in sorted(dist, key=lambda v: -dist[v]):
        for w in adj.get(v, ()):
            if w in dist and dist[w] == dist[v] + 1:
                delta_f[v] += (sigma[v] / sigma[w]) * (1.0 + delta_f[w])

    edf = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 0)],
        "a bigint, b bigint",
    )
    got = {
        r.id: (r.dist, int(r.delta_units))
        for r in dedup.betweenness_contrib(
            edf, source=0, max_hops=4
        ).collect()
    }
    want = {v: (dist[v], du[v]) for v in dist}
    assert got == want
    for v, (_, units) in got.items():
        assert abs(units / UNIT - delta_f[v]) < 1e-3


# ------------------------------------- BPE train→apply closure (round 12)


def test_bpe_train_encode_brute_force(spark, tmp_path):
    """bpe_apply (trained encode) == textbook python BPE trained and
    applied on the same pinned corpus: per-doc token counts under the
    3 learned merges."""
    import __spark_entry__ as entry

    corpus = {
        "banana": 5,
        "bandana": 3,
        "aaaa": 4,
        "naan": 2,
    }
    # python train (reuses _bpe_reference's merge semantics) + encode
    seqs = {w: list(w) for w in corpus}
    for _ in range(3):
        counts: dict = {}
        for w, toks in seqs.items():
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + corpus[w]
        (p1, p2), _c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        for w, toks in seqs.items():
            new, i = [], 0
            while i < len(toks):
                if (
                    i + 1 < len(toks)
                    and toks[i] == p1
                    and toks[i + 1] == p2
                ):
                    new.append(p1 + p2)
                    i += 2
                else:
                    new.append(toks[i])
                    i += 1
            seqs[w] = new

    rows, did = [], 0
    want = {}
    for w, c in corpus.items():
        for _ in range(c):
            rows.append((did, w, "en", "s", len(w)))
            want[did] = (1, len(seqs[w]), round(len(seqs[w]) / 1.0, 9))
            did += 1
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.tokens_per_word)
        for r in entry.queries()["bpe_apply"](spark, d).collect()
    }
    assert got == want


# ------------------------------------ KN train→score closure (round 12)


def test_kn_perplexity_brute_force(spark, tmp_path):
    """kn_perplexity == python replay of the same KN float chain and
    nano-unit quantization on a pinned corpus."""
    import math

    import __spark_entry__ as entry

    texts = {
        0: "the cat sat on the mat",
        1: "the cat ate the rat",
        2: "a dog sat on a log",
        3: "the dog and the cat",
        4: "single",
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    df = spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(d + "/documents.parquet")

    # python model
    occ = []
    for i, t in texts.items():
        ws = t.split()
        occ += [(i, ws[k], ws[k + 1]) for k in range(len(ws) - 1)]
    c12: dict = {}
    for _, a, b in occ:
        c12[(a, b)] = c12.get((a, b), 0) + 1
    c1: dict = {}
    nl: dict = {}
    nr: dict = {}
    for (a, b), c in c12.items():
        c1[a] = c1.get(a, 0) + c
        nl[a] = nl.get(a, 0) + 1
        nr[b] = nr.get(b, 0) + 1
    T = len(c12)
    dd = 0.75

    def nllu(a, b):
        p = (c12[(a, b)] - dd) / c1[a] + (dd * nl[a] / c1[a]) * (
            nr[b] / T
        )
        return round(-math.log(p) * 1e9)

    want = {}
    for i in texts:
        bigs = [(a, b) for (j, a, b) in occ if j == i]
        if not bigs:
            continue
        units = sum(nllu(a, b) for a, b in bigs)
        want[i] = (len(bigs), units)

    got = {
        r.doc_id: (r.n_bigrams, r.nll_units)
        for r in entry.queries()["kn_perplexity"](spark, d).collect()
    }
    assert got == want
    for r in entry.queries()["kn_perplexity"](spark, d).collect():
        assert abs(
            r.ppl
            - math.exp(r.nll_units / (r.n_bigrams * 1e9))
        ) < 1e-9


# ----------------------- deterministic random walks + ALS (round 12)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(10, 19)),
        min_size=1,
        max_size=25,
    ),
)
@settings(**PROP)
def test_random_walks_vs_python(spark, edges):
    """Engine walks == python replica of the same mixed-hash neighbor
    selection on arbitrary small bipartite graphs."""
    from openseize_spark.llm import dedup

    M = 2147483647
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    adj = {u: sorted(vs) for u, vs in adj.items()}
    want = set()
    for seed in adj:
        cur = seed
        want.add((seed, 0, seed))
        for s in range(1, 5):
            h = (seed % M) * 48271 + (cur % M) * 69621 + s * 8191
            cur = adj[cur][h % len(adj[cur])]
            want.add((seed, s, cur))

    edf = spark.createDataFrame(edges, "a bigint, b bigint")
    got = {
        (r.seed, r.step, r.node)
        for r in dedup.random_walks(edf, length=4).collect()
    }
    assert got == want


def test_als_user_step_brute_force(spark, tmp_path):
    """als_user_step == python closed-form 2x2 ridge solve from the
    same exact integer moments."""
    import os
    import tempfile

    import __spark_entry__ as entry

    li = [
        (1, 101, 5.0), (1, 102, 3.0), (1, 101, 2.0),
        (2, 103, 7.0), (2, 104, 1.0),
        (3, 105, 4.0),
    ]
    li_rows = [
        (ok, pk, 1, j, qty, 1.0, 0.0, 0.0, "N", "O",
         __import__("datetime").datetime(2024, 1, 1))
        for j, (ok, pk, qty) in enumerate(
            [(a, b, c) for a, b, c in li], start=1
        )
    ]
    orders = [(1, 11), (2, 12), (3, 12)]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        [(ok, ck, "O", 1.0, __import__("datetime").datetime(2024, 1, 1),
          "1-URGENT", "c", 0, "x") for ok, ck in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string, o_clerk string, o_shippriority int,"
        " o_comment string",
    ).write.parquet(os.path.join(d, "orders.parquet"))

    # python: ratings grouped by (custkey, partkey)
    rat: dict = {}
    ok2ck = dict(orders)
    for ok, pk, qty in li:
        key = (ok2ck[ok], pk)
        rat[key] = rat.get(key, 0.0) + qty
    want = {}
    moms: dict = {}
    for (u, i), rv in rat.items():
        r = round(rv)
        q1 = (i * 73) % 97 - 48
        q2 = (i * 151) % 101 - 50
        m = moms.setdefault(u, [0, 0, 0, 0, 0, 0])
        m[0] += 1
        m[1] += q1 * q1
        m[2] += q1 * q2
        m[3] += q2 * q2
        m[4] += q1 * r
        m[5] += q2 * r
    for u, (n, a11, a12, a22, b1, b2) in moms.items():
        det = float((a11 + 1000) * (a22 + 1000) - a12 * a12)
        want[u] = (
            n,
            float((a22 + 1000) * b1 - a12 * b2) / det,
            float((a11 + 1000) * b2 - a12 * b1) / det,
        )
    got = {
        r.u: (r.n_items, r.x1, r.x2)
        for r in entry.queries()["als_user_step"](spark, d).collect()
    }
    assert got == want


# --------------------------- CUSUM closed-form identity (round 12)


@given(
    vals=st.lists(
        st.integers(-50, 50), min_size=1, max_size=30
    ),
)
@settings(**PROP)
def test_cusum_by_type_vs_recurrence(spark, tmp_path_factory, vals):
    """The two-window closed form == the sequential CUSUM recurrence
    S_t = max(0, S_{t-1} + dev_t) on arbitrary integer series."""
    import datetime
    import os

    import __spark_entry__ as entry

    n = len(vals)
    cents = [v * 100 for v in vals]
    sv = sum(cents)
    devs = [c * n - sv for c in cents]
    s, peak, n_above = 0, 0, 0
    peak_idx = 0
    for i, d in enumerate(devs):
        s = max(0, s + d)
        if s > 0:
            n_above += 1
        if s > peak:
            peak, peak_idx = s, i
    want = (peak, peak_idx + 1, n_above)  # event_id = i+1

    rows = [
        (i + 1, datetime.datetime(2024, 1, 1)
         + datetime.timedelta(minutes=i), 1, "t", float(v), "{}")
        for i, v in enumerate(vals)
    ]
    d = str(tmp_path_factory.mktemp("cusum"))
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = [
        (int(r.peak_s), r.peak_event_id, r.n_above)
        for r in entry.queries()["cusum_by_type"](spark, d).collect()
    ]
    assert got == [want]


# ----------------------- difference-in-differences (round 12)


def test_did_by_type_brute_force(spark, tmp_path):
    """DiD cells and estimate == python replay on a pinned panel with
    a known treatment effect."""
    import datetime
    import os

    import __spark_entry__ as entry

    rows = []
    eid = 0
    # 4 users (2 treated: even ids), 10 ticks; treatment adds +7.0
    # post-midpoint to treated users; base trend +0.5/tick for all
    for u in range(4):
        for t in range(10):
            v = 10.0 + 0.5 * t
            if u % 2 == 0 and t >= 5:
                v += 7.0
            rows.append(
                (eid, datetime.datetime(2024, 1, 1)
                 + datetime.timedelta(hours=t), u, "t", v, "{}")
            )
            eid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    # python replay: pre = (ts - t0) < (t1 - ts); ticks 0..9, t0=0,
    # t1=9h -> pre iff t < 4.5 -> t in 0..4
    cells: dict = {}
    for (_e, ts, u, _ty, v, _p) in rows:
        t = (ts - datetime.datetime(2024, 1, 1)).total_seconds() / 3600
        pre = t < 4.5
        key = (u % 2 == 0, pre)
        s, n = cells.get(key, (0, 0))
        cells[key] = (s + round(v * 100), n + 1)
    m = {k: s / n for k, (s, n) in cells.items()}
    want_did = (m[(True, False)] - m[(True, True)]) - (
        m[(False, False)] - m[(False, True)]
    )
    r = entry.queries()["did_by_type"](spark, d).collect()
    assert len(r) == 1
    row = r[0]
    assert (row.n_t_pre, row.n_t_post, row.n_c_pre, row.n_c_post) == (
        10, 10, 10, 10,
    )
    assert row.did_cents == want_did
    assert abs(row.did_cents - 700.0) < 1e-9  # the planted +7.00 effect


def test_ipw_ate_brute_force(spark, tmp_path):
    """IPW/HT global estimate == python replay with per-stratum
    saturated propensity, including the quantization step."""
    import datetime
    import os

    import __spark_entry__ as entry

    rows = []
    eid = 0
    # two strata with DIFFERENT treatment shares (so IPW != naive
    # mean diff): stratum A 3t/1c, stratum B 1t/3c; effect +5.00 in A,
    # +1.00 in B over a base of 10.00
    spec = {
        "A": [(True, 15.0)] * 3 + [(False, 10.0)],
        "B": [(True, 11.0)] + [(False, 10.0)] * 3,
    }
    cells: dict = {}
    for ty, arms in spec.items():
        for treat, v in arms:
            rows.append(
                (eid, datetime.datetime(2024, 1, 1), 0 if treat else 1,
                 ty, v, "{}")
            )
            eid += 1
            s, nt, sc, n = cells.get(ty, (0, 0, 0, 0))
            cells[ty] = (
                s + (round(v * 100) if treat else 0),
                nt + (1 if treat else 0),
                sc + (0 if treat else round(v * 100)),
                n + 1,
            )
    u_sum, n_sum = 0, 0
    for ty, (st, nt, sc, n) in cells.items():
        u = round(st * n / nt - sc * n / (n - nt))
        u_sum += u
        n_sum += n
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    r = entry.queries()["ipw_ate"](spark, d).collect()
    assert len(r) == 1
    assert (r[0].n_total, int(r[0].ate_num_units)) == (n_sum, u_sum)
    assert abs(r[0].ate_cents - u_sum / n_sum) < 1e-9


def test_logrank_test_brute_force(spark, tmp_path):
    """Log-rank O/E/V and Z == python replay (textbook Mantel-
    Haenszel over day-level risk sets with end-of-window censoring)."""
    import datetime
    import math
    import os

    import __spark_entry__ as entry

    # 8 users; even ids (group 1) convert earlier on average
    # (user, first-big-purchase day or None)
    plan = {0: 1, 2: 1, 4: 3, 6: None, 1: 3, 3: 5, 5: None, 7: None}
    rows, eid = [], 0
    for u, d0 in plan.items():
        # every user has a day-1 view event so all 8 are in the risk set
        rows.append(
            (eid, datetime.datetime(2024, 1, 1, 6), u, "view", 10.0, "{}")
        )
        eid += 1
        if d0 is not None:
            rows.append(
                (eid, datetime.datetime(2024, 1, d0, 12), u, "purchase",
                 250.0, "{}")
            )
            eid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    # python replay
    deaths: dict = {}
    for u, d0 in plan.items():
        if d0 is not None:
            deaths.setdefault(d0, []).append(u)
    N, N1 = 8, 4
    o1 = e1u = vu = 0
    prior = prior1 = 0
    for day in sorted(deaths):
        ds = deaths[day]
        dt, d1t = len(ds), sum(1 for u in ds if u % 2 == 0)
        n, n1 = N - prior, N1 - prior1
        frac = n1 / n
        e1u += round(dt * frac * 1e9)
        vu += round(dt * frac * (1.0 - frac) * ((n - dt) / (n - 1)) * 1e9)
        o1 += d1t
        prior += dt
        prior1 += d1t
    want_z = (o1 - e1u / 1e9) / math.sqrt(vu / 1e9)

    r = entry.queries()["logrank_test"](spark, d).collect()
    assert len(r) == 1
    assert (r[0].o1, r[0].e1_units, r[0].v_units) == (o1, e1u, vu)
    assert abs(r[0].z - want_z) < 1e-12


def test_assoc_rules_brute_force(spark, tmp_path):
    """Rule confidence/lift == brute-force python replay with the
    same thresholds and quantization."""
    import itertools as it
    import os

    import __spark_entry__ as entry

    baskets = {}
    for o in range(40):
        bs = {f"B{o % 3}", f"B{(o // 2) % 4}"}
        if o % 2 == 0:
            bs.add("B7")
        baskets[o] = bs
    li, pt, pk = [], [], 0
    for o, bs in baskets.items():
        for b in sorted(bs):
            li.append((o, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", None))
            pt.append((pk, f"p{pk}", b, "T", 1, 1.0))
            pk += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        li,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    ).write.parquet(d + "/lineitem.parquet")
    spark.createDataFrame(
        pt,
        "p_partkey bigint, p_name string, p_brand string,"
        " p_type string, p_size int, p_retailprice double",
    ).write.parquet(d + "/part.parquet")

    n = len(baskets)
    s1: dict = {}
    for bs in baskets.values():
        for b in bs:
            s1[b] = s1.get(b, 0) + 1
    l1 = {b for b, c in s1.items() if c * 10000 >= 1000 * n}
    s2: dict = {}
    for bs in baskets.values():
        for a, b in it.combinations(sorted(bs & l1), 2):
            s2[(a, b)] = s2.get((a, b), 0) + 1
    want = {}
    for (a, b), cp in s2.items():
        if cp * 10000 < 180 * n:
            continue
        for ante, cons in ((a, b), (b, a)):
            conf = cp / s1[ante]
            lift = conf * n / s1[cons]
            want[(ante, cons)] = (
                cp, round(conf * 1e9), round(lift * 1e9)
            )
    got = {
        (r.ante, r.cons): (r.support, r.conf_units, r.lift_units)
        for r in entry.queries()["assoc_rules"](spark, d).collect()
    }
    assert got == want


def test_anova_f_brute_force(spark, tmp_path):
    """ANOVA moments/F == python replay with the same quantization."""
    import datetime
    import os

    import __spark_entry__ as entry

    groups = {"a": [10.0, 12.0, 11.0], "b": [20.0, 22.0], "c": [15.0] * 4}
    rows, eid = [], 0
    for ty, vs in groups.items():
        for v in vs:
            rows.append(
                (eid, datetime.datetime(2024, 1, 1), 1, ty, v, "{}")
            )
            eid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    ut = st = qt = ntot = 0
    k = len(groups)
    for vs in groups.values():
        cs = [round(v * 100) for v in vs]
        s, n = sum(cs), len(cs)
        ut += round(s * s / n)
        st += s
        qt += sum(c * c for c in cs)
        ntot += n
    ssb = ut - round(st * st / ntot)
    ssw = qt - ut
    want_f = (ssb / (k - 1)) / (ssw / (ntot - k))
    r = entry.queries()["anova_f"](spark, d).collect()
    assert len(r) == 1
    assert (
        r[0].k, r[0].n_total, int(r[0].ssb_units), int(r[0].ssw_units)
    ) == (k, ntot, ssb, ssw)
    assert abs(r[0].f_stat - want_f) < 1e-12


def test_nelson_aalen_brute_force(spark, tmp_path):
    """NA cumulative hazard == python replay (quantized increments),
    on the logrank fixture."""
    import datetime
    import os

    import __spark_entry__ as entry

    plan = {0: 1, 2: 1, 4: 3, 6: None, 1: 3, 3: 5, 5: None, 7: None}
    rows, eid = [], 0
    for u, d0 in plan.items():
        rows.append(
            (eid, datetime.datetime(2024, 1, 1, 6), u, "view", 10.0, "{}")
        )
        eid += 1
        if d0 is not None:
            rows.append(
                (eid, datetime.datetime(2024, 1, d0, 12), u, "purchase",
                 250.0, "{}")
            )
            eid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    deaths: dict = {}
    for u, d0 in plan.items():
        if d0 is not None:
            deaths[d0] = deaths.get(d0, 0) + 1
    N, prior, cum = 8, 0, 0
    want = {}
    for day in sorted(deaths):
        n = N - prior
        cum += round(deaths[day] / n * 1e9)
        want[day] = (n, deaths[day], cum)
        prior += deaths[day]
    got = {
        r.day: (r.at_risk, r.deaths, r.h_units)
        for r in entry.queries()["nelson_aalen"](spark, d).collect()
    }
    assert got == want


def test_kruskal_binned_brute_force(spark, tmp_path):
    """Binned KW H == python replay (doubled midranks on the same
    fixed grid, quantized per-group terms, tie correction)."""
    import datetime
    import math
    import os

    import __spark_entry__ as entry

    groups = {"a": [1.0, 2.0, 2.0, 9.0], "b": [2.0, 5.0], "c": [7.0, 9.0, 9.0]}
    rows, eid = [], 0
    for ty, vs in groups.items():
        for v in vs:
            rows.append(
                (eid, datetime.datetime(2024, 1, 1), 1, ty, v, "{}")
            )
            eid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    def binc(v):
        return math.floor(round(v * 100) * 1024 / 49003.0)

    cnt: dict = {}
    for ty, vs in groups.items():
        for v in vs:
            key = (binc(v), ty)
            cnt[key] = cnt.get(key, 0) + 1
    bins = sorted({b for b, _ in cnt})
    bt = {b: sum(c for (bb, _), c in cnt.items() if bb == b) for b in bins}
    cum, run = {}, 0
    for b in bins:
        run += bt[b]
        cum[b] = run
    two_r = {b: (cum[b] - bt[b]) * 2 + bt[b] + 1 for b in bins}
    ng: dict = {}
    two_rg: dict = {}
    for (b, ty), c in cnt.items():
        ng[ty] = ng.get(ty, 0) + c
        two_rg[ty] = two_rg.get(ty, 0) + c * two_r[b]
    u = sum(round(two_rg[ty] ** 2 / ng[ty]) for ty in ng)
    t3t = sum(t**3 - t for t in bt.values())
    N = sum(ng.values())
    h = 12.0 * (u / 4.0) / (N * (N + 1.0)) - 3.0 * (N + 1.0)
    hc = h / (1.0 - t3t / (N**3 - N))
    r = entry.queries()["kruskal_binned"](spark, d).collect()
    assert len(r) == 1
    assert (r[0].k, r[0].n_total, int(r[0].u_units), int(r[0].sum_t3t)) == (
        len(ng), N, u, t3t,
    )
    assert abs(r[0].h - h) < 1e-9 and abs(r[0].h_corrected - hc) < 1e-9


def test_mcnemar_pairs_brute_force(spark, tmp_path):
    """McNemar b/c cells and chi2 == hand-constructed panel."""
    import datetime
    import os

    import __spark_entry__ as entry

    # users: 0 pre-only, 1 post-only, 2 both, 3 neither, 4 post-only
    plan = {0: ("pre",), 1: ("post",), 2: ("pre", "post"), 3: (),
            4: ("post",)}
    rows, eid = [], 0
    for u, marks in plan.items():
        rows.append(
            (eid, datetime.datetime(2024, 1, 1), u, "view", 1.0, "{}")
        )
        eid += 1
        rows.append(
            (eid, datetime.datetime(2024, 1, 9), u, "view", 1.0, "{}")
        )
        eid += 1
        for m in marks:
            ts = (datetime.datetime(2024, 1, 2) if m == "pre"
                  else datetime.datetime(2024, 1, 8))
            rows.append((eid, ts, u, "purchase", 300.0, "{}"))
            eid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    r = entry.queries()["mcnemar_pairs"](spark, d).collect()
    assert len(r) == 1
    assert (r[0].n_users, r[0].b, r[0].c) == (5, 1, 2)
    assert abs(r[0].chi2 - (1 - 2) ** 2 / 3) < 1e-12


def test_xcorr_lags_brute_force(spark, tmp_path):
    """Cross-correlation units == numpy 'valid'-support replay on the
    gate signal fixture (first 500 samples via a tiny lineitem)."""
    import numpy as np

    import __spark_entry__ as entry
    from openseize_spark.registry.common import _signal

    sf_dir = "/root/testdata/sf0.001"
    df = entry.queries()["xcorr_lags"](spark, sf_dir)
    got = {r.lag: (r.n_overlap, int(r.sxy_units)) for r in df.collect()}

    pdf = (
        _signal(spark, sf_dir).df.filter(F.col("channel").isin(0, 1))
        .orderBy("channel", "t")
        .toPandas()
    )
    v0 = pdf[pdf.channel == 0].sort_values("t").v.to_numpy()
    t0 = pdf[pdf.channel == 0].sort_values("t").t.to_numpy()
    v1 = pdf[pdf.channel == 1].sort_values("t").v.to_numpy()
    t1 = {t: i for i, t in
          enumerate(pdf[pdf.channel == 1].sort_values("t").t.to_numpy())}
    import math

    def half_away(x):  # Spark/DuckDB round(): half AWAY from zero,
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )  # python round() is half-even — one product hits a .5 tie

    want = {}
    for L in range(-32, 33):
        s, n = 0, 0
        for i, t in enumerate(t0):
            j = t1.get(t + L)
            if j is not None:
                s += half_away(v0[i] * v1[j] * 1e9)
                n += 1
        want[L] = (n, s)
    assert got == want


def test_bartlett_test_brute_force(spark, tmp_path):
    """Bartlett M/C == python replay with the same quantized-ln
    accumulation."""
    import datetime
    import math
    import os

    import __spark_entry__ as entry

    groups = {"a": [10.0, 12.0, 11.0, 14.0], "b": [20.0, 25.0, 21.0],
              "c": [5.0, 5.5, 6.5, 7.0, 4.0]}
    rows, eid = [], 0
    for ty, vs in groups.items():
        for v in vs:
            rows.append(
                (eid, datetime.datetime(2024, 1, 1), 1, ty, v, "{}")
            )
            eid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    wln = rc = qt = ut = ntot = 0
    k = len(groups)
    for vs in groups.values():
        cs = [round(v * 100) for v in vs]
        n, s, q = len(cs), sum(cs), sum(c * c for c in cs)
        s2 = (n * q - s * s) / (n * (n - 1))
        wln += (n - 1) * round(math.log(s2) * 1e9)
        rc += round(1e9 / (n - 1))
        qt += q
        ut += round(s * s / n)
        ntot += n
    nk = ntot - k
    m = nk * math.log((qt - ut) / nk) - wln / 1e9
    c = 1.0 + (rc / 1e9 - 1.0 / nk) / (3.0 * (k - 1))
    r = entry.queries()["bartlett_test"](spark, d).collect()
    assert len(r) == 1
    assert (r[0].k, r[0].n_total, int(r[0].wln_units)) == (k, ntot, wln)
    assert abs(r[0].m_stat - m) < 1e-9
    assert abs(r[0].chi2 - m / c) < 1e-9


def test_durbin_watson_brute_force(spark, tmp_path):
    """DW == python replay: exact-moment OLS fit, quantized residuals,
    integer num/den sums."""
    import datetime
    import os

    import __spark_entry__ as entry

    vals = [10.0, 10.5, 12.0, 11.0, 14.0, 13.5, 15.0]
    rows = [
        (i, datetime.datetime(2024, 1, 1)
         + datetime.timedelta(minutes=i), 1, "t", v, "{}")
        for i, v in enumerate(vals)
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    ts_us = [i * 60_000_000 for i in range(len(vals))]
    v = [round(x * 1_000_000) for x in vals]
    n = len(v)
    st, sv = sum(ts_us), sum(v)
    stv = sum(t * y for t, y in zip(ts_us, v))
    stt = sum(t * t for t in ts_us)
    b = float(n * stv - st * sv) / float(n * stt - st * st)
    a = (float(sv) - b * float(st)) / float(n)
    eu = [round(float(y) - (a + b * float(t))) for t, y in zip(ts_us, v)]
    num = sum(
        (eu[i] - eu[i - 1]) ** 2 for i in range(1, n)
    )
    den = sum(x * x for x in eu)
    r = entry.queries()["durbin_watson"](spark, d).collect()
    assert len(r) == 1
    assert (r[0].n, int(r[0].num_units), int(r[0].den_units)) == (
        n, num, den,
    )
    assert abs(r[0].dw - num / den) < 1e-12


def test_scene_cuts_brute_force(spark):
    """scene_cuts == python replay of the fake decoder (byte-rotation
    frames, 9-digit-rounded means, quantized deltas)."""
    import hashlib

    import numpy as np

    from openseize_spark.llm import multimodal as mm

    n, w, h, nf, thr = 24, 60, 44, 10, 0.0002
    want = set()
    for mid in range(n):
        if mid % 3 != 2:
            continue
        hexchain = "".join(
            hashlib.md5(f"{mid}:{j}".encode()).hexdigest()
            for j in range(16)
        )
        payload = bytes.fromhex(hexchain)
        prev = None
        for fi in range(nf):
            rot = payload[fi:] + payload[:fi]
            arr = np.frombuffer(rot, dtype=np.uint8)
            reps = int(np.ceil(w * h / len(arr)))
            img = np.tile(arr, reps)[: w * h].astype(np.float64) / 255.0
            m = round(float(img.mean()), 9)
            if prev is not None and abs(m - prev) > thr:
                want.add((mid, fi, round(abs(m - prev) * 1e9)))
            prev = m

    media = mm.synthetic_media_sqlgen(spark, n=n)
    got = {
        (r.media_id, r.frame_idx, r.delta_units)
        for r in mm.scene_cuts(
            media, threshold=thr, deterministic_fake=True
        ).collect()
    }
    assert got == want and len(got) > 0


def test_decision_stump_brute_force(spark, tmp_path):
    """Stump split == brute-force exact-integer Gini cost over every
    candidate split, including the bin tie-break."""
    import datetime
    import math
    import os

    import __spark_entry__ as entry

    # values spread across bins; purchases concentrate high
    vals = [(10.0, "view")] * 6 + [(20.0, "purchase")] * 2 + \
           [(300.0, "purchase")] * 5 + [(300.0, "view")] + \
           [(120.0, "view")] * 3 + [(120.0, "purchase")]
    rows = [
        (i, datetime.datetime(2024, 1, 1), 1, ty, v, "{}")
        for i, (v, ty) in enumerate(vals)
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    cnt: dict = {}
    for v, ty in vals:
        b = math.floor(round(v * 100) * 1024 / 49003.0)
        n, p = cnt.get(b, (0, 0))
        cnt[b] = (n + 1, p + (1 if ty == "purchase" else 0))
    bins = sorted(cnt)
    N = sum(n for n, _ in cnt.values())
    P = sum(p for _, p in cnt.values())
    best = None
    nl = pl = 0
    for b in bins:
        nl += cnt[b][0]
        pl += cnt[b][1]
        nr, pr = N - nl, P - pl
        if nl == 0 or nr == 0:
            continue
        cost = 2 * (pl * (nl - pl) * nr + pr * (nr - pr) * nl)
        key = (cost, b)
        if best is None or key < best[0]:
            best = (key, (b, nl, pl, nr, pr, cost))
    r = entry.queries()["decision_stump"](spark, d).collect()
    assert len(r) == 1
    got = (
        r[0].split_bin, r[0].n_left, r[0].pos_left, r[0].n_right,
        r[0].pos_right, int(r[0].cost_units),
    )
    assert got == best[1]


def test_cochran_armitage_brute_force(spark, tmp_path):
    """CA trend Z == python replay on a panel with a planted positive
    trend in proportions."""
    import datetime
    import math
    import os

    import __spark_entry__ as entry

    # score groups 0..3 with conversion rates rising with the score
    spec = [(60.0, 10, 1), (150.0, 10, 3), (250.0, 10, 5),
            (450.0, 10, 8)]
    rows, eid = [], 0
    for v, n, conv in spec:
        for i in range(n):
            ty = "purchase" if i < conv else "view"
            rows.append(
                (eid, datetime.datetime(2024, 1, 1), 1, ty, v, "{}")
            )
            eid += 1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    g = {}
    for v, n, conv in spec:
        s = min(math.floor(round(v * 100) * 4 / 49003.0), 3)
        nn, pp = g.get(s, (0, 0))
        g[s] = (nn + n, pp + conv)
    N = sum(n for n, _ in g.values())
    P = sum(p for _, p in g.values())
    sn = sum(s * n for s, (n, _) in g.items())
    ssn = sum(s * s * n for s, (n, _) in g.items())
    sp = sum(s * p for s, (_, p) in g.items())
    tn = sp * N - sn * P
    pbar = P / N
    var = pbar * (1.0 - pbar) * (ssn - sn * sn / N)
    want_z = tn / (N * math.sqrt(var))
    r = entry.queries()["cochran_armitage"](spark, d).collect()
    assert len(r) == 1
    assert (r[0].n_total, r[0].p_total, int(r[0].sp_units),
            int(r[0].sn_units)) == (N, P, sp, sn)
    assert abs(r[0].z - want_z) < 1e-12
    assert r[0].z > 2  # the planted trend is significant


def test_dup_substring_spans_brute_force(spark, tmp_path):
    """Span list == python replay: shared 8-gram starts union into
    maximal DISJOINT spans (gapped starts within n merge; a gap of
    n+1 does not), doc-unique text yields none."""
    import os

    import __spark_entry__ as entry

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # w1..w12 vs w1..w8 q w5..w12: doc 3 has duplicated gram starts
    # {1, 5} (gap 4 <= n -> ONE span of 12 words); doc 4 has starts
    # {1, 10} (gap 9 = n+1 -> two disjoint 8-word spans)
    w = [f"w{j}" for j in range(1, 13)]
    texts = {
        0: f"one two {shared} three four",
        1: f"{shared} five six seven eight nine ten eleven",
        2: "unique words only here nothing repeats at all twelve "
           "thirteen fourteen",
        3: " ".join(w),
        4: " ".join(w[:8]) + " q " + " ".join(w[4:]),
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    n = 8
    grams: dict = {}
    pos: dict = {}
    for i, t in texts.items():
        ws = t.split()
        for p in range(len(ws) - n + 1):
            gkey = " ".join(ws[p:p + n])
            grams.setdefault(gkey, set()).add(i)
            pos.setdefault(i, []).append((p + 1, gkey))
    want = set()
    for i, pl in pos.items():
        dup = sorted(p for p, gk in pl if len(grams[gk]) >= 2)
        run = []
        for p in dup:
            if run and p - run[-1] <= n:
                run.append(p)
            else:
                if run:
                    want.add((i, run[0], run[-1] - run[0] + n))
                run = [p]
        if run:
            want.add((i, run[0], run[-1] - run[0] + n))
    got = {
        (r.doc_id, r.span_start, r.span_words)
        for r in entry.queries()["dup_substring_spans"](
            spark, d
        ).collect()
    }
    assert got == want
    assert (3, 1, 12) in got  # gap-4 starts unioned into one span
    assert (4, 1, 8) in got and (4, 10, 8) in got  # gap n+1 stays split
    # spans are disjoint per doc: summed words == union cardinality
    cover: dict = {}
    for i, s, k in got:
        cover.setdefault(i, set()).update(range(s, s + k))
    assert all(
        sum(k for j, _, k in got if j == i) == len(cov)
        for i, cov in cover.items()
    )

"""Round-13 session registrations: python brute-force replays
(both-engines-wrong insurance on top of the DuckDB oracle gate)."""

import math
import os

import pytest


@pytest.fixture(scope="module")
def spark():
    from openseize_spark.session import get_spark

    return get_spark("round13-tests")


def _write_edges_tables(spark, d, edges):
    """Materialize a synthetic lineitem/orders pair whose join yields
    exactly the given (custkey, partkey) edges (the graph-query
    fixture idiom)."""
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


def test_skipgram_cooc_brute_force(spark, tmp_path):
    """Pair counts and PMI == python replay of the deterministic
    walks + window-2 skip-gram + ln((cnt*T)/(cu*cv))."""
    import __spark_entry__ as entry

    edges = [
        (1, 1), (1, 2), (2, 1), (2, 3), (3, 2), (3, 3),
        (4, 1), (4, 4), (5, 5),
    ]
    d = str(tmp_path / "sf")
    _write_edges_tables(spark, d, edges)

    L, W = 4, 2
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
    want = {
        (u, v): (k, math.log((k * T) / (cu[u] * cv[v])))
        for (u, v), k in cnt.items()
    }

    got = {
        (r.u, r.v): (r.cnt, r.pmi)
        for r in entry.queries()["skipgram_cooc"](spark, d).collect()
    }
    assert set(got) == set(want)
    for key, (k, pmi) in want.items():
        gk, gpmi = got[key]
        assert gk == k
        assert abs(gpmi - pmi) < 1e-12
    # PMI sanity: sum over all pairs of cnt/T * pmi is the mutual
    # information and must be non-negative
    mi = sum((k / T) * p for k, p in want.values())
    assert mi >= -1e-12


def test_binseg_changepoints_brute_force(spark, tmp_path):
    """Depth-2 binary segmentation == python replay: planted mean
    shifts are found at their bin boundaries; a single-bin type
    yields no rows."""
    import datetime
    import math

    import __spark_entry__ as entry

    def half_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )

    # type "a": 10 -> 50 -> 20 mean levels (two real change points);
    # type "b": flat with small jitter; type "c": one event (absent)
    vals_a = (
        [10.0 + 0.01 * (i % 7) for i in range(100)]
        + [50.0 + 0.01 * (i % 5) for i in range(100)]
        + [20.0 + 0.01 * (i % 3) for i in range(100)]
    )
    vals_b = [30.0 + 0.01 * (i % 4) for i in range(120)]
    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for i, v in enumerate(vals_a):
        eid += 1
        rows.append((eid, base + datetime.timedelta(minutes=i), 1,
                     "a", float(v), "{}"))
    for i, v in enumerate(vals_b):
        eid += 1
        rows.append((eid, base + datetime.timedelta(minutes=2 * i), 1,
                     "b", float(v), "{}"))
    eid += 1
    rows.append((eid, base + datetime.timedelta(minutes=17), 1,
                 "c", 99.0, "{}"))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    # python replay with the identical integer/double chain
    us = [
        (t, et, half_away(v * 100))
        for (_, tsv, _, et, v, _) in rows
        for t in [int(tsv.timestamp() * 1_000_000)]
    ]
    t0 = min(t for t, _, _ in us)
    t1 = max(t for t, _, _ in us)
    span = t1 - t0 + 1
    bins: dict = {}
    for t, et, c in us:
        bn = ((t - t0) * 1024) // span
        n, s = bins.get((et, bn), (0, 0))
        bins[(et, bn)] = (n + 1, s + c)

    def best(et, lo, hi):
        seg = sorted(
            (bn, n, s) for (e2, bn), (n, s) in bins.items()
            if e2 == et and lo <= bn <= hi
        )
        np_ = sum(n for _, n, _ in seg)
        sp = sum(s for _, _, s in seg)
        out = None
        nl = sl = 0
        for bn, n, s in seg:
            nl += n
            sl += s
            nr = np_ - nl
            if nr <= 0:
                continue
            dd = float(sl * nr - (sp - sl) * nl)
            gain = (dd * dd) / ((float(nl) * float(nr)) * float(np_))
            if out is None or gain > out[0] or (
                gain == out[0] and bn < out[1]
            ):
                out = (gain, bn, nl, nr)
        return out

    want = set()
    for et in ("a", "b", "c"):
        r1 = best(et, 0, 1023)
        if r1 is None:
            continue
        g, bn, nl, nr = r1
        want.add((et, 1, 0, 1023, bn, nl, nr, round(g, 6)))
        for lo, hi in ((0, bn), (bn + 1, 1023)):
            r2 = best(et, lo, hi)
            if r2 is not None:
                g2, bn2, nl2, nr2 = r2
                want.add((et, 2, lo, hi, bn2, nl2, nr2, round(g2, 6)))

    got = {
        (r.event_type, r.level, r.lo_bin, r.hi_bin, r.split_bin,
         r.n_left, r.n_right, round(r.gain, 6))
        for r in entry.queries()["binseg_changepoints"](
            spark, d
        ).collect()
    }
    assert got == want
    assert not any(k[0] == "c" for k in got)  # single-bin type absent
    # the planted level-1 change point for "a" splits 100-vs-200 or
    # 200-vs-100 events (the larger of the two shifts)
    a1 = next(k for k in got if k[0] == "a" and k[1] == 1)
    assert (a1[5], a1[6]) in {(100, 200), (200, 100)}


def test_als_item_step_brute_force(spark, tmp_path):
    """Item half-step == python replay of the full alternation:
    hash item factors -> exact user solve -> 1e-6 quantization ->
    exact item solve."""
    import __spark_entry__ as entry

    edges = [
        (1, 1, 5.0), (1, 2, 3.0), (2, 1, 4.0), (2, 3, 7.0),
        (3, 2, 2.0), (3, 3, 6.0), (4, 1, 1.0), (4, 4, 9.0),
    ]
    li = [(i, p, q) for i, (_, p, q) in enumerate(edges)]
    od = [(i, c) for i, (c, _, _) in enumerate(edges)]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        li, "l_orderkey bigint, l_partkey bigint, l_quantity double"
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    spark.createDataFrame(
        od, "o_orderkey bigint, o_custkey bigint"
    ).write.parquet(os.path.join(d, "orders.parquet"))

    r: dict = {}
    for c, p, q in edges:
        r[(c, p)] = r.get((c, p), 0) + q
    r = {k: int(round(v)) for k, v in r.items()}

    # user half-step (hash item factors, lambda=1000, 1/100 units)
    um: dict = {}
    for (u, i), rv in r.items():
        q1 = (i * 73) % 97 - 48
        q2 = (i * 151) % 101 - 50
        a11, a12, a22, b1, b2 = um.get(u, (0, 0, 0, 0, 0))
        um[u] = (a11 + q1 * q1, a12 + q1 * q2, a22 + q2 * q2,
                 b1 + q1 * rv, b2 + q2 * rv)
    pu: dict = {}
    for u, (a11, a12, a22, b1, b2) in um.items():
        det = float((a11 + 1000) * (a22 + 1000) - a12 * a12)
        x1 = float((a22 + 1000) * b1 - a12 * b2) / det
        x2 = float((a11 + 1000) * b2 - a12 * b1) / det
        pu[u] = (int(round(x1 * 1e6)), int(round(x2 * 1e6)))

    # item half-step (quantized user factors, lambda_u = 1e15)
    im: dict = {}
    cnt: dict = {}
    for (u, i), rv in r.items():
        p1, p2 = pu[u]
        a11, a12, a22, b1, b2 = im.get(i, (0, 0, 0, 0, 0))
        im[i] = (a11 + p1 * p1, a12 + p1 * p2, a22 + p2 * p2,
                 b1 + p1 * rv, b2 + p2 * rv)
        cnt[i] = cnt.get(i, 0) + 1
    lam = 10 ** 15
    want = {}
    for i, (a11, a12, a22, b1, b2) in im.items():
        det = float((a11 + lam) * (a22 + lam) - a12 * a12)
        y1 = 1e6 * (float((a22 + lam) * b1 - a12 * b2) / det)
        y2 = 1e6 * (float((a11 + lam) * b2 - a12 * b1) / det)
        want[i] = (cnt[i], y1, y2)

    got = {
        r2.i: (r2.n_users, r2.y1, r2.y2)
        for r2 in entry.queries()["als_item_step"](spark, d).collect()
    }
    assert set(got) == set(want)
    for i, (n, y1, y2) in want.items():
        gn, gy1, gy2 = got[i]
        assert gn == n
        assert abs(gy1 - y1) < 1e-9 * max(1.0, abs(y1))
        assert abs(gy2 - y2) < 1e-9 * max(1.0, abs(y2))


def test_seq_rules_brute_force(spark, tmp_path):
    """a->b support == #users whose first a precedes some later b;
    confidence units == round(1e9 * n_seq/n_ante)."""
    import datetime

    import __spark_entry__ as entry

    base = datetime.datetime(2024, 3, 1)
    # user 1: a b a c   user 2: b a     user 3: a a b   user 4: c
    streams = {1: "abac", 2: "ba", 3: "aab", 4: "c"}
    rows = []
    eid = 0
    for u, s in streams.items():
        for i, t in enumerate(s):
            eid += 1
            rows.append((eid, base + datetime.timedelta(minutes=i), u,
                         t, 1.0, "{}"))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    want = set()
    types = set("abc")
    supp = {
        t: sum(1 for s in streams.values() if t in s) for t in types
    }
    for a in types:
        for b in types:
            if a == b:
                continue
            n_seq = sum(
                1 for s in streams.values()
                if a in s and b in s and s.index(a) < len(s) - 1 - s[::-1].index(b)
            )
            if n_seq:
                cu = int(round(1e9 * n_seq / supp[a]))
                want.add((a, b, n_seq, supp[a], cu))
    got = {
        (r2.ante, r2.cons, r2.n_seq, r2.n_ante, r2.conf_units)
        for r2 in entry.queries()["seq_rules"](spark, d).collect()
    }
    assert got == want
    assert ("a", "b", 2, 3, int(round(1e9 * 2 / 3))) in got


def test_rake_keywords_brute_force(spark, tmp_path):
    """Top-3 RAKE phrases == python replay (stopword islands,
    deg/freq nano-units, score-desc phrase-asc ordering)."""
    import __spark_entry__ as entry

    texts = {
        0: "deep learning of deep networks and the deep learning "
           "stack for robust systems",
        1: "the quick brown fox and the lazy dog",
        2: "and of the to in",  # all stopwords -> no phrases
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    STOP = {"the", "and", "of", "to", "in", "is", "that", "for",
            "with", "as"}
    want = set()
    for did, t in texts.items():
        ws = t.split()
        phrases = []  # (pid, [words])
        pid = 0
        cur = []
        for w in ws:
            if w in STOP:
                pid += 1
                if cur:
                    phrases.append((pid_start, cur))
                cur = []
            else:
                if not cur:
                    pid_start = pid
                cur.append(w)
        if cur:
            phrases.append((pid_start, cur))
        freq: dict = {}
        deg: dict = {}
        for _, pw in phrases:
            for w in pw:
                freq[w] = freq.get(w, 0) + 1
                deg[w] = deg.get(w, 0) + len(pw)
        wu = {w: int(round(1e9 * deg[w] / freq[w])) for w in freq}
        scored = sorted(
            (
                (-sum(wu[w] for w in pw), " ".join(pw), pid, len(pw))
                for pid, pw in phrases
            ),
            key=lambda x: (x[0], x[1], x[2]),
        )
        for rank, (negs, phrase, pid, ln) in enumerate(scored[:3], 1):
            want.add((did, phrase, ln, -negs, rank))

    got = {
        (r2.doc_id, r2.phrase, r2.n_words, r2.score_units, r2.rank)
        for r2 in entry.queries()["rake_keywords"](spark, d).collect()
    }
    assert got == want
    assert not any(k[0] == 2 for k in got)  # all-stopword doc absent
    # "deep learning" must outrank single words in doc 0
    top0 = next(k for k in got if k[0] == 0 and k[4] == 1)
    assert "deep" in top0[1] and top0[2] >= 2


def test_mantel_haenszel_brute_force(spark, tmp_path):
    """Pooled OR == python replay over planted per-dow 2x2 tables."""
    import datetime
    import math

    import __spark_entry__ as entry

    def half_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )

    rows = []
    eid = 0
    base = datetime.datetime(2024, 3, 4)  # a Monday
    # two strata (Mon, Tue) with different exposure/outcome mixes
    plan = [
        (0, "purchase", 300.0, 8), (0, "purchase", 100.0, 2),
        (0, "view", 300.0, 4), (0, "view", 100.0, 6),
        (1, "purchase", 300.0, 3), (1, "purchase", 100.0, 5),
        (1, "view", 300.0, 7), (1, "view", 100.0, 1),
    ]
    for day, et, v, k in plan:
        for _ in range(k):
            eid += 1
            rows.append((eid, base + datetime.timedelta(days=day,
                                                        minutes=eid),
                         1, et, v, "{}"))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    adu = bcu = ntot = 0
    for day in (0, 1):
        a = sum(k for dy, et, v, k in plan
                if dy == day and et == "purchase" and v >= 245.02)
        b = sum(k for dy, et, v, k in plan
                if dy == day and et != "purchase" and v >= 245.02)
        c = sum(k for dy, et, v, k in plan
                if dy == day and et == "purchase" and v < 245.02)
        dd = sum(k for dy, et, v, k in plan
                 if dy == day and et != "purchase" and v < 245.02)
        n = a + b + c + dd
        ntot += n
        adu += half_away(1e9 * (a * dd) / n)
        bcu += half_away(1e9 * (b * c) / n)
    want_or = adu / bcu

    r2 = entry.queries()["mantel_haenszel"](spark, d).collect()
    assert len(r2) == 1
    r0 = r2[0]
    assert (r0.k_strata, r0.n_total, int(r0.ad_units),
            int(r0.bc_units)) == (2, ntot, adu, bcu)
    assert abs(r0.or_mh - want_or) < 1e-12


def test_page_hinkley_brute_force(spark, tmp_path):
    """PH excursion/alarms == python replay with a planted drift;
    a drift-free type never alarms (NULL first_alarm_id)."""
    import datetime
    import math

    import __spark_entry__ as entry

    def half_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )

    # type "a": flat 100.00 then jumps to 30100.00 (clear drift);
    # type "b": constant (excursion stays ~0, no alarm)
    vals_a = [100.0] * 200 + [30100.0] * 200
    vals_b = [55.0] * 150
    rows = []
    eid = 0
    base = datetime.datetime(2024, 5, 1)
    for et, vs in (("a", vals_a), ("b", vals_b)):
        for i, v in enumerate(vs):
            eid += 1
            rows.append((eid, base + datetime.timedelta(minutes=i), 1,
                         et, float(v), "{}"))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    DELTA_U, LAM_U = 5 * 10**9, 10**6 * 10**9
    want = {}
    for et, vs in (("a", vals_a), ("b", vals_b)):
        ids = [eid2 for eid2, r in enumerate(rows, 1)
               if r[3] == et]
        s = m = 0
        runmin = 0
        peak = 0
        n_alarms = 0
        first_id = None
        for i, v in enumerate(vs, 1):
            c = half_away(v * 100)
            s += c
            u = half_away(
                1e9 * (float(i * c - s) / float(i))
            ) - DELTA_U  # engine parens: 1e9 * (num/den)
            m += u
            runmin = min(runmin, m) if i > 1 else m
            exc = m - runmin
            peak = max(peak, exc)
            if exc > LAM_U:
                n_alarms += 1
                if first_id is None:
                    first_id = ids[i - 1]
        want[et] = (len(vs), peak, n_alarms, first_id)

    got = {
        r2.event_type: (r2.n_obs, int(r2.peak_exc_units),
                        r2.n_alarms, r2.first_alarm_id)
        for r2 in entry.queries()["page_hinkley"](spark, d).collect()
    }
    assert got == want
    assert got["a"][2] > 0 and got["a"][3] is not None
    assert got["b"][2] == 0 and got["b"][3] is None


def test_friedman_test_brute_force(spark, tmp_path):
    """Friedman chi2 == python replay; incomplete blocks dropped."""
    import datetime

    import __spark_entry__ as entry

    # 3 treatments over 3 complete Mon/Tue/Wed blocks with a strict
    # within-block ordering, plus one incomplete Thursday block
    base = datetime.datetime(2024, 3, 4)  # Monday
    plan = [
        (0, "a", 10.0), (0, "b", 20.0), (0, "c", 30.0),
        (1, "a", 15.0), (1, "c", 25.0), (1, "b", 35.0),
        (2, "b", 12.0), (2, "a", 22.0), (2, "c", 32.0),
        (3, "a", 99.0),  # incomplete block -> dropped
    ]
    rows = []
    for eid, (day, et, v) in enumerate(plan, 1):
        rows.append((eid, base + datetime.timedelta(days=day,
                                                    minutes=eid),
                     1, et, v, "{}"))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    # python replay: one obs per cell -> rank by value within block
    k, b = 3, 3
    r2 = {"a": 0, "b": 0, "c": 0}
    for day in range(3):
        cell = sorted(
            ((v, et) for dy, et, v in plan if dy == day)
        )
        for pos, (_, et) in enumerate(cell, 1):
            r2[et] += 2 * pos  # doubled ranks, no ties here
    sum_r2_sq = sum(x * x for x in r2.values())
    chi2 = (3.0 * sum_r2_sq) / (b * k * (k + 1)) - 3.0 * b * (k + 1)

    out = entry.queries()["friedman_test"](spark, d).collect()
    assert len(out) == 1
    r0 = out[0]
    assert (r0.k_treat, r0.b_blocks, int(r0.sum_r2_sq)) == (
        k, b, sum_r2_sq
    )
    assert abs(r0.chi2_f - chi2) < 1e-12


def test_audio_vad_brute_force(spark):
    """VAD segments == python replay of the byte-lattice energies,
    integer threshold, and island merge over the sqlgen media."""
    import hashlib

    import __spark_entry__ as entry
    from openseize_spark.session import get_spark

    FRAME, FS = 200, 16000
    want = set()
    for mid in range(24):
        if mid % 3 != 1:
            continue
        hx = "".join(
            hashlib.md5(f"{mid}:{j}".encode()).hexdigest()
            for j in range(16)
        )
        byts = bytes.fromhex(hx)
        nf = FS // FRAME
        units = []
        for f in range(nf):
            ssq = sum(
                (2 * byts[s % 256] - 255) ** 2
                for s in range(f * FRAME, (f + 1) * FRAME)
            )
            x = 1e9 * (float(ssq) / float(FRAME * 255 * 255))
            units.append(int(x + 0.5))  # positive: half-away == floor+.5
        su = sum(units)
        act = [f for f, u in enumerate(units) if u * nf > su]
        run = []
        for f in act:
            if run and f - run[-1] == 1:
                run.append(f)
            else:
                if run:
                    want.add((mid, run[0], len(run),
                              max(units[x] for x in run)))
                run = [f]
        if run:
            want.add((mid, run[0], len(run),
                      max(units[x] for x in run)))

    got = {
        (r.media_id, r.seg_start, r.n_frames, r.peak_units)
        for r in entry.queries()["audio_vad"](spark, "").collect()
    }
    assert got == want and len(got) > 0


def _events_fixture(spark, d, plan):
    """plan: list of (event_type, value); minute-spaced timestamps."""
    import datetime

    base = datetime.datetime(2024, 6, 1)
    rows = [
        (i + 1, base + datetime.timedelta(minutes=i), 1, et, float(v),
         "{}")
        for i, (et, v) in enumerate(plan)
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))
    return rows


def test_theil_sen_brute_force(spark, tmp_path):
    """Median pairwise bin slope == python replay with a planted
    linear trend plus one gross outlier the median ignores."""
    import __spark_entry__ as entry

    # type "a": value = 10 + 2*i with one wild outlier at i=25
    plan = [("a", 10.0 + 2.0 * i if i != 25 else 9999.0)
            for i in range(60)]
    d = str(tmp_path / "sf")
    rows = _events_fixture(spark, d, plan)

    t0 = min(int(r[1].timestamp() * 1e6) for r in rows)
    t1 = max(int(r[1].timestamp() * 1e6) for r in rows)
    span = t1 - t0 + 1
    bins: dict = {}
    for r in rows:
        bn = ((int(r[1].timestamp() * 1e6) - t0) * 1024) // span
        c = int(round(r[4] * 100))
        n, s = bins.get(bn, (0, 0))
        bins[bn] = (n + 1, s + c)
    bs = sorted(bins.items())
    slopes = []
    for x, (i, (ni, si)) in enumerate(bs):
        for j, (nj, sj) in bs[x + 1:]:
            slopes.append(
                (float(sj * ni - si * nj)
                 / float((j - i) * ni * nj), i, j)
            )
    slopes.sort()
    n_pairs = len(slopes)
    want_slope = slopes[(n_pairs + 1) // 2 - 1][0]

    out = entry.queries()["theil_sen"](spark, d).collect()
    assert len(out) == 1
    r0 = out[0]
    assert (r0.n_bins, r0.n_pairs) == (len(bs), n_pairs)
    assert r0.slope == want_slope
    # the outlier bin cannot drag the median: true slope is ~2 cents
    # per event = 200 cents per value-step; sanity: positive, finite
    assert 0 < r0.slope < 10000


def test_gini_trimmed_brute_force(spark, tmp_path):
    """Gini and 5%-trimmed mean == python replays; uniform values
    give gini ~ (n-1)/(3n... ) exact replay, constants give 0."""
    import __spark_entry__ as entry

    plan = (
        [("a", float(v)) for v in (10, 20, 30, 40, 50, 60, 70, 80,
                                   90, 100) * 4]
        + [("b", 25.0)] * 30
    )
    d = str(tmp_path / "sf")
    _events_fixture(spark, d, plan)

    want_g = {}
    want_t = {}
    for et in ("a", "b"):
        cs = sorted(
            int(round(v * 100)) for e2, v in plan if e2 == et
        )
        n = len(cs)
        sx = sum(cs)
        six = sum((i + 1) * c for i, c in enumerate(cs))
        want_g[et] = float(2 * six - (n + 1) * sx) / float(n * sx)
        t = n // 20
        kept = cs[t: n - t]
        want_t[et] = (n, len(kept), float(sum(kept)) / len(kept))

    got_g = {
        r.event_type: (r.n, r.gini)
        for r in entry.queries()["gini_by_type"](spark, d).collect()
    }
    got_t = {
        r.event_type: (r.n, r.n_kept, r.trimmed_mean_cents)
        for r in entry.queries()["trimmed_mean"](spark, d).collect()
    }
    for et in ("a", "b"):
        assert got_g[et][0] == len([1 for e2, _ in plan if e2 == et])
        assert abs(got_g[et][1] - want_g[et]) < 1e-15
        assert got_t[et] == want_t[et]
    assert got_g["b"][1] == 0.0  # constant values -> zero inequality


def test_kendall_tau_binned_brute_force(spark, tmp_path):
    """tau-b == python replay: a monotone series gives tau 1, a
    planted tie is counted, and the cross-multiplication compare
    matches exact rational ordering."""
    import math

    import __spark_entry__ as entry

    # increasing means with one tied pair of bins (same mean 30.0)
    plan = (
        [("a", 10.0)] * 5 + [("a", 20.0)] * 5 + [("a", 30.0)] * 5
        + [("a", 30.0)] * 5 + [("a", 50.0)] * 5
    )
    d = str(tmp_path / "sf")
    rows = _events_fixture(spark, d, plan)

    t0 = min(int(r[1].timestamp() * 1e6) for r in rows)
    t1 = max(int(r[1].timestamp() * 1e6) for r in rows)
    span = t1 - t0 + 1
    bins: dict = {}
    for r in rows:
        bn = ((int(r[1].timestamp() * 1e6) - t0) * 1024) // span
        c = int(round(r[4] * 100))
        n, s = bins.get(bn, (0, 0))
        bins[bn] = (n + 1, s + c)
    bs = sorted(bins.items())
    nc = nd = nt = 0
    for x, (i, (ni, si)) in enumerate(bs):
        for j, (nj, sj) in bs[x + 1:]:
            lhs, rhs = sj * ni, si * nj
            if lhs > rhs:
                nc += 1
            elif lhs < rhs:
                nd += 1
            else:
                nt += 1
    n0 = nc + nd + nt
    tau = (nc - nd) / math.sqrt(float((n0 - nt) * n0))

    out = entry.queries()["kendall_tau_binned"](spark, d).collect()
    assert len(out) == 1
    r0 = out[0]
    assert (r0.n_bins, r0.nc, r0.nd, r0.n_tied) == (
        len(bs), nc, nd, nt
    )
    assert abs(r0.tau_b - tau) < 1e-15
    assert nt > 0 and r0.tau_b > 0.8  # tie counted; strong trend


def test_brier_score_brute_force(spark, tmp_path):
    """Closed-form Brier == per-event replay Σ(p_hat - y)^2 / N."""
    import datetime
    import math

    import __spark_entry__ as entry

    def half_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )

    base = datetime.datetime(2024, 3, 4)  # Monday
    plan = [(0, "purchase", 6), (0, "view", 4),
            (1, "purchase", 2), (1, "view", 8)]
    rows = []
    eid = 0
    for day, et, k in plan:
        for _ in range(k):
            eid += 1
            rows.append((eid, base + datetime.timedelta(days=day,
                                                        minutes=eid),
                         1, et, 1.0, "{}"))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    want_units = 0
    N = 0
    for day in (0, 1):
        n = sum(k for dy, _, k in plan if dy == day)
        p = sum(k for dy, et, k in plan
                if dy == day and et == "purchase")
        N += n
        want_units += p * 10**9 - half_away(1e9 * float(p * p) / n)
    # per-event check: sum (p_hat - y)^2 == units/1e9 up to rounding
    direct = 0.0
    for day in (0, 1):
        n = sum(k for dy, _, k in plan if dy == day)
        p = sum(k for dy, et, k in plan
                if dy == day and et == "purchase")
        ph = p / n
        direct += p * (ph - 1) ** 2 + (n - p) * ph**2
    out = entry.queries()["brier_score"](spark, d).collect()
    assert len(out) == 1
    r0 = out[0]
    assert (r0.n_total, int(r0.brier_units)) == (N, want_units)
    assert abs(r0.brier - direct / N) < 1e-9


def test_pinball_mad_brute_force(spark, tmp_path):
    """Pinball-quantile argmin and MAD == python replays; the
    pinball winner brackets the true 0.9 quantile bin."""
    import math

    import __spark_entry__ as entry

    def half_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )

    plan = [("a", float(v)) for v in range(1, 201)] + [
        ("b", 42.0)
    ] * 25
    d = str(tmp_path / "sf")
    _events_fixture(spark, d, plan)

    want_p = {}
    want_m = {}
    for et in ("a", "b"):
        cs = [half_away(v * 100) for e2, v in plan if e2 == et]
        bins: dict = {}
        for c in cs:
            bn = int(math.floor((c * 1024) / 49003.0))
            n, s = bins.get(bn, (0, 0))
            bins[bn] = (n + 1, s + c)
        nt, st = len(cs), sum(cs)
        best = None
        for bn in sorted(bins):
            nb = sum(n for b2, (n, _) in bins.items() if b2 < bn)
            sb = sum(s for b2, (_, s) in bins.items() if b2 < bn)
            qv = (bn * 49003 + 1023) // 1024
            lu = (qv * nb - sb) + 9 * ((st - sb) - qv * (nt - nb))
            if best is None or (lu, bn) < best[:2]:
                best = (lu, bn, nb)
        want_p[et] = (best[1], best[2], best[0])
        srt = sorted(cs)
        med = srt[(nt + 1) // 2 - 1]
        devs = sorted(abs(c - med) for c in cs)
        want_m[et] = (nt, med, devs[(nt + 1) // 2 - 1])

    got_p = {
        r.event_type: (r.q_bin, r.n_below, int(r.loss_units))
        for r in entry.queries()["pinball_quantile"](
            spark, d
        ).collect()
    }
    got_m = {
        r.event_type: (r.n, r.median_cents, r.mad_cents)
        for r in entry.queries()["mad_by_type"](spark, d).collect()
    }
    assert got_p == want_p
    assert got_m == want_m
    # uniform 1..200: 0.9 quantile ~ 180.00 => winner bin near
    # floor(18000*1024/49003) = 376 (lower-edge representative can
    # land a couple of bins short)
    assert abs(got_p["a"][0] - 376) <= 3
    assert got_m["b"] == (25, 4200, 0)  # constants: MAD 0


def test_bootstrap_ci_brute_force(spark, tmp_path):
    """Hash-Poisson bootstrap CI == python replay; the CI brackets
    the true mean of an i.i.d.-ish planted series."""
    import hashlib
    import math

    import __spark_entry__ as entry

    def half_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )

    plan = [("a", 50.0 + (i % 11)) for i in range(300)]
    d = str(tmp_path / "sf")
    rows = _events_fixture(spark, d, plan)

    cuts = []
    acc = 0.0
    for k in range(9):
        acc += math.exp(-1.0) / math.factorial(k)
        cuts.append(int(math.floor(acc * 4294967296.0)))

    def weight(eid, r):
        h = int(
            hashlib.md5(f"boot:{eid}:{r}".encode()).hexdigest()[:8], 16
        )
        for k, c in enumerate(cuts):
            if h < c:
                return k
        return 9

    mus = []
    for r in range(32):
        n = s = 0
        for row in rows:
            w = weight(row[0], r)
            n += w
            s += w * half_away(row[4] * 100)
        assert n > 0
        mus.append((half_away(1e9 * float(s) / float(n)), r))
    mus.sort()
    want = (32, mus[1][0], mus[30][0])

    out = entry.queries()["bootstrap_ci"](spark, d).collect()
    assert len(out) == 1
    r0 = out[0]
    assert (r0.n_reps, int(r0.mean_lo_units),
            int(r0.mean_hi_units)) == want
    true_mean_units = 1e9 * sum(
        half_away(v * 100) for _, v in plan
    ) / len(plan)
    assert r0.mean_lo_units <= true_mean_units <= r0.mean_hi_units


def test_term_drift_forecast_mae_brute_force(spark, tmp_path):
    """term_drift == replay with a planted vocabulary shift;
    forecast_mae == replay where seasonal-naive beats naive on a
    planted weekly cycle."""
    import datetime
    import math

    import __spark_entry__ as entry

    def half_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )

    # --- term_drift fixture: word "old" dominates the first half,
    # "new" the second; "stable" constant throughout
    texts = {}
    for i in range(20):
        texts[i] = ("old stable " * 3).strip()
    for i in range(20, 40):
        texts[i] = ("new stable " * 3).strip()
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    lo, hi = 0, 39
    cnt: dict = {}
    for i, t in texts.items():
        first = (i - lo) < (hi - i)
        for w in t.split():
            a, b = cnt.get(w, (0, 0))
            cnt[w] = (a + first, b + (not first))
    n1 = sum(a for a, _ in cnt.values())
    n2 = sum(b for _, b in cnt.values())
    scored = sorted(
        (
            -abs(half_away(1e9 * a / n1) - half_away(1e9 * b / n2)),
            w, a, b,
        )
        for w, (a, b) in cnt.items()
    )
    want = {
        (w, a, b, -negd, rk)
        for rk, (negd, w, a, b) in enumerate(scored[:20], 1)
    }
    got = {
        (r.word, r.k_first, r.k_second, r.drift_units, r.rank)
        for r in entry.queries()["term_drift"](spark, d).collect()
    }
    assert got == want
    top = next(k for k in got if k[4] == 1)
    assert top[0] in ("old", "new")
    stable = next((k for k in got if k[0] == "stable"), None)
    assert stable is None or stable[3] <= 1  # stable word ~no drift

    # --- forecast_mae fixture: period-7 cycle -> seasonal wins
    de = str(tmp_path / "ev")
    base = datetime.datetime(2024, 1, 1)
    cyc = [10.0, 40.0, 20.0, 50.0, 30.0, 60.0, 25.0]
    plan = []
    for day in range(28):
        plan.append(("a", cyc[day % 7]))
    rows2 = [
        (i + 1, base + datetime.timedelta(days=i), 1, et, v, "{}")
        for i, (et, v) in enumerate(plan)
    ]
    spark.createDataFrame(
        rows2,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(de, "events.parquet"))

    mus = [half_away(1e9 * half_away(v * 100)) for _, v in plan]
    n = e1 = e7 = 0
    for i in range(7, 28):
        n += 1
        e1 += abs(mus[i] - mus[i - 1])
        e7 += abs(mus[i] - mus[i - 7])
    out = entry.queries()["forecast_mae"](spark, de).collect()
    assert len(out) == 1
    r0 = out[0]
    assert r0.n_days == n
    assert abs(r0.mae_naive_units - e1 / n) < 1e-6
    assert abs(r0.mae_seasonal_units - e7 / n) < 1e-6
    assert r0.mae_seasonal_units < r0.mae_naive_units  # cycle found


def test_dedup_eval_brute_force(spark, tmp_path):
    """Banding precision and exact recall == replay on a corpus with
    planted exact dups (recall exactly 1.0) and near-dup noise."""
    import __spark_entry__ as entry

    dup = "the quick brown fox jumps over the lazy dog again and again"
    texts = {
        0: dup, 1: dup, 2: dup,                      # 3 exact copies
        3: dup + " tail", 4: "completely different words here now",
        5: "another unrelated document body of text",
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    out = entry.queries()["dedup_eval"](spark, d).collect()
    assert len(out) == 1
    r0 = out[0]
    # 3 exact copies -> 3 true pairs, all band-collide (identical
    # signatures) and all verify at jaccard 1.0
    assert r0.n_true_pairs == 3
    assert r0.tp_exact == 3
    assert int(r0.exact_recall_units) == 10**9  # recall exactly 1.0
    assert r0.n_cand >= 3 and r0.n_verified >= 3
    assert 0 < r0.band_precision_units <= 10**9


def test_ranking_inversions_brute_force(spark, tmp_path):
    """Inversion counts == python replay over the fused rank table."""
    import __spark_entry__ as entry

    # corpus where the three registered queries retrieve overlapping
    # doc sets with differing orders across bm25/tfidf
    base_words = ["fast", "hash", "join", "window", "agg", "stream",
                  "customer", "query", "scan"]
    texts = {}
    for i in range(24):
        ws = []
        for j, w in enumerate(base_words):
            ws += [w] * (1 + ((i * (j + 3)) % 5))
        ws += [f"filler{i}"] * (i % 7)
        texts[i] = " ".join(ws)
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    from openseize_spark.llm import text as llm_text
    from openseize_spark.registry import common

    fused = llm_text.rrf_fusion(
        common._t(spark, d, "documents"), queries=common._BM25_QUERIES, k=10
    ).collect()
    want = {}
    for qid in {r.query_id for r in fused}:
        rows2 = [
            (r.doc_id, r.rank_bm25, r.rank_tfidf)
            for r in fused
            if r.query_id == qid
            and r.rank_bm25 is not None
            and r.rank_tfidf is not None
        ]
        m = len(rows2)
        inv = 0
        np_ = 0
        for x in range(m):
            for y in range(m):
                if rows2[y][0] > rows2[x][0]:
                    np_ += 1
                    if (rows2[x][1] < rows2[y][1]) != (
                        rows2[x][2] < rows2[y][2]
                    ):
                        inv += 1
        if m >= 2:
            want[qid] = (m, np_, inv,
                         1.0 - 2.0 * (float(inv) / float(np_)))

    got = {
        r.query_id: (r.n_common, r.n_pairs, r.n_inversions,
                     r.agreement)
        for r in entry.queries()["ranking_inversions"](
            spark, d
        ).collect()
    }
    assert set(got) == set(want)
    for qid, (m, np_, inv, ag) in want.items():
        gm, gnp, ginv, gag = got[qid]
        assert (gm, gnp, ginv) == (m, np_, inv)
        assert abs(gag - ag) < 1e-15


def test_snippet_extract_brute_force(spark, tmp_path):
    """Best 10-token window == python replay over the engine's own
    BM25 top-3; a doc with a dense term cluster snips there."""
    import __spark_entry__ as entry
    from openseize_spark.llm import text as llm_text
    from openseize_spark.registry import common

    texts = {
        0: "filler one two three fast hash join fast hash join "
           "four five six seven eight nine ten",
        1: "fast alpha beta gamma delta epsilon zeta eta theta "
           "iota kappa hash join mu nu",
        2: "window agg stream repeated window agg stream here",
        3: "customer query scan words customer again query scan",
        4: "nothing relevant at all in this document text",
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    ranked = llm_text.bm25_topk(
        common._t(spark, d, "documents"), queries=common._BM25_QUERIES,
        k=3,
    ).collect()
    qterms = {
        qid: set(t.split()) for qid, t in common._BM25_QUERIES.items()
    }
    want = {}
    for r in ranked:
        ws = texts[r.doc_id].split()
        qpos = [
            p for p, w in enumerate(ws) if w in qterms[r.query_id]
        ]
        best = None
        for p in qpos:
            k = sum(1 for p2 in qpos if p <= p2 <= p + 9)
            if best is None or (-k, p) < best[:2]:
                best = (-k, p)
        if best is not None:
            want[(r.query_id, r.doc_id)] = (r.rank, best[1], -best[0])

    got = {
        (r.query_id, r.doc_id): (r.rank, r.best_start, r.n_in_window)
        for r in entry.queries()["snippet_extract"](
            spark, d
        ).collect()
    }
    assert got == want
    # doc 0's dense "fast hash join fast hash join" cluster: any
    # query-1 snippet of it must cover all 6 occurrences
    if (1, 0) in got:
        assert got[(1, 0)][2] == 6


def test_streaming_page_hinkley_brute_force(spark, tmp_path):
    """Streaming PH excursions == the batch python replay (stream
    state carries across the three staged micro-batches)."""
    import datetime
    import math

    import __spark_entry__ as entry

    def half_away(x):
        return int(math.floor(x + 0.5)) if x >= 0 else -int(
            math.floor(-x + 0.5)
        )

    vals = [100.0] * 60 + [5100.0] * 60
    rows = []
    base = datetime.datetime(2024, 7, 1)
    for i, v in enumerate(vals):
        rows.append((i + 1, base + datetime.timedelta(minutes=i), 1,
                     "a", float(v), "{}"))
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    DELTA, LAM = 5 * 10**9, 10**6 * 10**9
    want = {}
    i = s = m = 0
    runmin = 0
    for eid, v in enumerate(vals, 1):
        c = half_away(v * 100)
        i += 1
        s += c
        # parens matter: the engine computes 1e9 * (num/den), and at
        # ~1e15 magnitudes (1e9*num)/den rounds differently
        u = half_away(1e9 * (float(i * c - s) / float(i))) - DELTA
        m += u
        runmin = m if i == 1 else min(runmin, m)
        exc = m - runmin
        want[eid] = (exc, exc > LAM)

    got = {
        r.event_id: (int(r.exc_units), r.alarm)
        for r in entry.queries()["streaming_page_hinkley"](
            spark, d
        ).collect()
    }
    assert got == want
    assert any(a for _, a in got.values())  # the planted drift alarms


def test_mmr_diversify_brute_force(spark, tmp_path):
    """MMR picks == python replay; a near-duplicate of the top hit
    is demoted below a less-relevant-but-diverse candidate."""
    import math

    import __spark_entry__ as entry

    # probe = e0; candidates 3..8 (vec_id >= 3), 4-dim exact-ish
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],    # probe
        1: [9.0, 9.0, 9.0, 9.0],    # excluded (vec_id < 3)
        2: [8.0, 8.0, 8.0, 8.0],    # excluded
        3: [4.0, 3.0, 0.0, 0.0],    # rel 0.8
        4: [4.0, 2.9999, 0.0, 0.0], # near-dup of 3, rel ~0.8
        5: [3.0, 4.0, 0.0, 0.0],    # rel 0.6
        6: [0.0, 1.0, 0.0, 0.0],    # rel 0, orthogonal
        7: [1.0, 1.0, 1.0, 1.0],    # rel 0.5
        8: [8.0, 0.0, 6.0, 0.0],    # rel 0.8 but DIVERSE from 3/4
    }
    rows = [(i, [float(x) for x in v], 0) for i, v in vecs.items()]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(os.path.join(d, "embeddings.parquet"))

    def cos(a, b):
        # float32 storage first (the parquet column is float[])
        import numpy as np

        a = np.asarray(a, dtype=np.float32).astype(np.float64)
        b = np.asarray(b, dtype=np.float32).astype(np.float64)
        num = 0.0
        for x, y in zip(a, b):
            num += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(num / (na * nb), 9)

    cand_ids = [i for i in vecs if i >= 3]
    rel = {i: cos(vecs[0], vecs[i]) for i in cand_ids}
    # top-12 keeps all 6 candidates
    sel = []
    want = []
    for rnd in range(1, 5):
        best = None
        for i in cand_ids:
            if i in sel:
                continue
            ms = max((cos(vecs[i], vecs[j]) for j in sel), default=0.0)
            sc = 0.7 * rel[i] - 0.3 * ms
            if best is None or (-sc, i) < best[:2]:
                best = (-sc, i)
        sel.append(best[1])
        want.append((rnd, best[1], -best[0]))

    got = sorted(
        (r.sel_rank, r.vec_id, r.mmr_score)
        for r in entry.queries()["mmr_diversify"](spark, d).collect()
    )
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, gs), (_, _, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9
    # diversity: whichever of the near-twins (3, 4) wins round 1,
    # the DIVERSE equal-relevance candidate 8 beats the twin to
    # round 2 (0.7*0.8 - 0.3*0.64 > 0.7*0.8 - 0.3*~1.0)
    order = [b for _, b, _ in got]
    assert order[0] in (3, 4)
    assert order[1] == 8


def test_graph_assortativity_brute_force(spark, tmp_path):
    """Assortativity == python replay; a bipartite star is strongly
    disassortative (r < 0)."""
    import math

    import __spark_entry__ as entry

    # star: customer 1 buys parts 1..6; customer 2 buys part 1
    edges = [(1, p) for p in range(1, 7)] + [(2, 1)]
    d = str(tmp_path / "sf")
    _write_edges_tables(spark, d, edges)

    und = set()
    for c, p in edges:
        und.add((c * 2, p * 2 + 1))
    dirs = list(und) + [(b, a) for a, b in und]
    deg: dict = {}
    for a, _ in dirs:
        deg[a] = deg.get(a, 0) + 1
    m = len(dirs)
    sx = sum(deg[a] for a, _ in dirs)
    sy = sum(deg[b] for _, b in dirs)
    sxy = sum(deg[a] * deg[b] for a, b in dirs)
    sxx = sum(deg[a] ** 2 for a, _ in dirs)
    syy = sum(deg[b] ** 2 for _, b in dirs)
    num = float(m * sxy - sx * sy)
    r = num / math.sqrt(
        float(m * sxx - sx * sx) * float(m * syy - sy * sy)
    )

    out = entry.queries()["graph_assortativity"](spark, d).collect()
    assert len(out) == 1
    assert out[0].m_edges == m
    assert abs(out[0].assortativity - r) < 1e-12
    assert out[0].assortativity < 0  # star graph: disassortative


def test_guard_band_audit_tool(tmp_path):
    """The guard-band audit runs clean at the small gate scale and
    computes margins correctly on a synthetic boundary case."""
    import math
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "tools/guard_band_audit.py",
         "/root/testdata/sf0.001"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "all sites clear" in r.stdout
    # every audited site line reports a margin above the 16-ulp bar
    # (8 round-13 sites + the round-14 sppmi_embed.units site)
    ok_lines = [ln for ln in r.stdout.splitlines()
                if ln.startswith("ok")]
    assert len(ok_lines) == 9
    assert any("sppmi_embed.units" in ln for ln in ok_lines)

    # margin math sanity: a value exactly at x.5 has distance 0
    sys.path.insert(0, "/root/repo/tools")
    import guard_band_audit as gba

    class FakeCon:
        def __init__(self, vals):
            self.vals = vals

        def execute(self, _sql):
            return self

        def fetchall(self):
            return [(v,) for v in self.vals]

    r0 = gba.audit_one(FakeCon([100.5]), "t", "SELECT 1")
    assert r0["min_margin_ulps"] == 0.0
    r1 = gba.audit_one(FakeCon([100.25]), "t", "SELECT 1")
    assert r1["min_margin_ulps"] == 0.25 / math.ulp(100.25)

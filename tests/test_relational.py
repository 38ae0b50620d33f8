"""Relational operator semantics vs in-memory numpy/pandas oracles —
mirrors the reference's producer/protools tests
(tests/test_producer.py, tests/test_protools.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from openseize_spark.operators import relational as rel
from openseize_spark.operators import stats as st
from tests.conftest import collect_signal, make_signal


class TestSliceMask:
    def test_slice_step(self, signal):
        arrays = collect_signal(signal)
        out = collect_signal(rel.slice_time(signal, 100, 2000, 7))
        for ch, x in arrays.items():
            np.testing.assert_array_equal(out[ch], x[100:2000:7])

    def test_mask_compaction_and_short_mask(self, spark):
        """Mask shorter than signal truncates (zip-stops-early,
        reference: core/producer.py:423-427)."""
        sf = make_signal(spark, nchannels=2, n=1000, seed=3)
        arrays = collect_signal(sf)
        rng = np.random.default_rng(7)
        keep = rng.random(800) < 0.5  # shorter than signal
        mask_df = spark.createDataFrame(
            pd.DataFrame({"recording_id": "r0", "t": np.arange(800), "keep": keep}),
            schema="recording_id string, t bigint, keep boolean",
        )
        out = collect_signal(rel.apply_mask(sf, mask_df))
        for ch, x in arrays.items():
            np.testing.assert_array_equal(out[ch], x[:800][keep])

    def test_annotation_mask_include_exclude(self, spark):
        sf = make_signal(spark, nchannels=1, n=1000, seed=4, fs=100.0)
        x = collect_signal(sf)[0]
        ann = spark.createDataFrame(
            [("r0", "a", 1.0, 0.5), ("r0", "b", 5.0, 1.0)],
            "recording_id string, label string, time double, duration double",
        )
        # intervals: [100,150) and [500,600) samples at fs=100
        m = np.zeros(1000, dtype=bool)
        m[100:150] = True
        m[500:600] = True
        inc = collect_signal(rel.mask_from_annotations(sf, ann, include=True))[0]
        exc = collect_signal(rel.mask_from_annotations(sf, ann, include=False))[0]
        np.testing.assert_array_equal(inc, x[m])
        np.testing.assert_array_equal(exc, x[~m])
        # label filter
        only_a = collect_signal(
            rel.mask_from_annotations(sf, ann, include=True, labels=["a"])
        )[0]
        np.testing.assert_array_equal(only_a, x[100:150])


class TestArithmeticPad:
    def test_add_scalar_and_signal(self, spark):
        sf = make_signal(spark, nchannels=2, n=500, seed=8)
        arrays = collect_signal(sf)
        plus2 = collect_signal(rel.add(sf, 2.0))
        for ch, x in arrays.items():
            np.testing.assert_allclose(plus2[ch], x + 2.0)
        both = collect_signal(rel.add(sf, sf))
        for ch, x in arrays.items():
            np.testing.assert_allclose(both[ch], 2 * x)

    def test_pad(self, spark):
        sf = make_signal(spark, nchannels=2, n=300, seed=9)
        arrays = collect_signal(sf)
        out = collect_signal(rel.pad(sf, 3, 4, value=0.0))
        for ch, x in arrays.items():
            want = np.concatenate([np.zeros(3), x, np.zeros(4)])
            np.testing.assert_array_equal(out[ch], want)

    def test_multiply_along_channel(self, spark):
        sf = make_signal(spark, nchannels=3, n=200, seed=10)
        arrays = collect_signal(sf)
        coeffs = spark.createDataFrame(
            [(0, 1.0), (1, 2.0), (2, 3.0)], "channel int, c double"
        )
        out = collect_signal(rel.multiply_along_axis(sf, coeffs, "channel"))
        for ch, x in arrays.items():
            np.testing.assert_allclose(out[ch], x * (ch + 1.0))


class TestStats:
    def test_mean_std_nan_aware(self, spark):
        """nan-aware stats (reference: core/protools.py:526)."""
        sf = make_signal(spark, nchannels=2, n=2000, seed=11, nan_frac=0.1)
        arrays = collect_signal(sf)
        rows = {r.channel: r for r in st.channel_stats(sf, ignore_nan=True).collect()}
        for ch, x in arrays.items():
            assert rows[ch].mean == pytest.approx(np.nanmean(x), rel=1e-9)
            assert rows[ch].std == pytest.approx(np.nanstd(x), rel=1e-6)
            assert rows[ch].n == np.count_nonzero(~np.isnan(x))

    def test_standardize(self, spark):
        sf = make_signal(spark, nchannels=2, n=1500, seed=12)
        arrays = collect_signal(sf)
        out = collect_signal(st.standardize(sf))
        for ch, x in arrays.items():
            want = (x - x.mean()) / x.std()
            np.testing.assert_allclose(out[ch], want, atol=1e-9)


class TestPlans:
    def test_filter_pushdown_in_scan(self, spark):
        """Channel selection must reach the parquet scan as a pushed
        filter (the datasource-pushdown analog, SURVEY §4)."""
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        plan = (
            df.filter(F.col("l_orderkey") % 4 == 0)
            .select("l_orderkey", "l_quantity")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "ReadSchema" in plan
        # only the two needed columns are read
        assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]

    def test_broadcast_join_for_small_dim(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        plan = (
            li.join(F.broadcast(n), li.l_suppkey == n.n_nationkey)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan

    def test_sosfilt_blocks_reads_edf_once(self, spark, tmp_path):
        """The filter hands each channel's state from run to run inside
        one ``mapInPandas`` pass over t-sorted rows (operators/iir
        ``_carried``): the EDF file is scanned once and nothing is joined
        back onto the rows."""
        from openseize_spark.dsp import design
        from openseize_spark.operators import iir as op_iir
        from openseize_spark.signal import SignalFrame
        from openseize_spark.sources import edf

        rng = np.random.default_rng(4)
        path = str(tmp_path / "rec.edf")
        edf.write_edf(path, {ch: rng.normal(size=2000) for ch in range(2)}, fs=100.0)
        edf.register_edf_source(spark)
        sf = SignalFrame(spark.read.format("edf").option("path", path).load(), 100.0)
        spec = design.butter(fpass=10, fstop=20, fs=100.0)
        plan = _executed_plan(op_iir.sosfilt(sf, spec).df)
        assert plan.count("BatchScan edf") == 1
        assert "Join" not in plan
        assert plan.count("MapInPandas _carry") == 1

    def test_resample_after_sosfilt_blocks_runs_input_once(self, signal):
        """resample reads the channel length off its own block window:
        no broadcast join against an aggregate that would replay the
        whole upstream sosfilt plan a second time."""
        from openseize_spark.dsp import design
        from openseize_spark.operators import iir as op_iir
        from openseize_spark.operators import resample as op_rs

        spec = design.butter(fpass=10, fstop=20, fs=100.0)
        sf = op_iir.sosfilt(signal, spec)
        plan = _executed_plan(op_rs.resample(sf, 1, 2, block_size=512).df)
        assert plan.count("MapInPandas _carry") == 1
        assert "BroadcastExchange" not in plan

    def test_zero_phase_filter_shuffles_once_and_joins_nothing(self, signal):
        """The backward pass re-sorts the forward output by t descending
        inside the partitions the forward pass hashed (operators/iir
        ``_carried``): one exchange, two carry passes, and no
        time-reversal join or channel-span aggregate."""
        from openseize_spark.dsp import design
        from openseize_spark.operators import iir as op_iir

        sf = op_iir.sosfiltfilt(signal, design.butter(fpass=10, fstop=20, fs=100.0))
        plan = "\n".join(_subtree(_executed_plan(sf.df), "MapInPandas _carry"))
        assert plan.count("MapInPandas _carry") == 2
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Sort [") == 2
        for node in ("Join", "BroadcastExchange", "Aggregate"):
            assert node not in plan, node

    def test_halo_operators_shuffle_input_once(self, signal):
        """Each halo operator hashes its input by (recording_id, channel)
        once: the block aggregate, the halo window and the channel-length
        window all run inside that one exchange (blocks.halo_blocks)."""
        from openseize_spark.operators import fir as op_fir
        from openseize_spark.operators import resample as op_rs
        from openseize_spark.operators import spectral as op_sp

        cases = {
            "_resample": op_rs.resample(signal, 1, 2, block_size=512).df,
            "_block_psd": op_sp.welch_psd_blocks(signal, nfft=64, segs_per_block=8),
            "_block_stft": op_sp.stft_blocks(signal, nfft=64, segs_per_block=8),
            "_conv": op_fir.apply_fir_blocks(signal, np.ones(9) / 9, block_size=512).df,
        }
        exchanges = {
            kernel: "\n".join(
                _subtree(_executed_plan(df), f"MapInPandas {kernel}(")
            ).count("Exchange hashpartitioning")
            for kernel, df in cases.items()
        }
        assert exchanges == dict.fromkeys(cases, 1)

    def test_band_power_reuses_welch_combine_exchange(self, signal):
        """welch_psd_blocks hashes its partials by (recording_id,
        channel), so the (..., freq) average and band_power's per-channel
        sum share one exchange: two in the whole plan, one per stage."""
        from openseize_spark.operators import spectral as op_sp

        psd = op_sp.welch_psd_blocks(signal, nfft=64, segs_per_block=8)
        plan = _executed_plan(op_sp.band_power(psd, 5.0, 20.0, 100.0 / 64))
        assert plan.count("Exchange hashpartitioning") == 2

    def test_sliding_prefix_plan_has_no_explode(self, signal):
        """sliding_agg_prefix must be a pure window plan — no generator
        (explode) row amplification, exactly one window shuffle."""
        from openseize_spark.operators import segmentation as seg

        plan = (
            seg.sliding_agg_prefix(signal, nfft=64, stride=32)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Generate" not in plan  # Spark's explode operator
        assert "Window" in plan

    def test_kmeans_assignment_is_pure_projection(self, spark):
        """kmeans_fit assignment must stay a projection: literal
        centroids, no join, no explode, no shuffle before the scan
        output (llm/similarity.kmeans_fit)."""
        from openseize_spark.llm import similarity

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        assign, _c = similarity.kmeans_fit(emb, k=2, n_iter=1)
        plan = assign._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Generate" not in plan
        assert "Exchange" not in plan

    def test_top_ngrams_partial_agg_before_shuffle(self, spark):
        """top_ngrams must partial-aggregate the exploded gram space
        map-side (two HashAggregates around one exchange), and the rank
        window must only see the aggregated rows."""
        from openseize_spark.llm import text

        docs = spark.createDataFrame(
            [(1, "en", "a b c d")], "doc_id long, lang string, text string"
        )
        plan = (
            text.top_ngrams(docs, n=3, k=5)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("HashAggregate") >= 2
        assert "Window" in plan


class TestAsofJoin:
    def _mk(self, spark):
        left = spark.createDataFrame(
            [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3")],
            "k long, t long, name string",
        )
        right = spark.createDataFrame(
            [(1, 8, 100.0), (1, 10, 200.0), (1, 15, 300.0), (2, 9, 400.0)],
            "k long, t long, val double",
        )
        return left, right

    def test_backward_inclusive(self, spark):
        from openseize_spark.operators.relational import asof_join

        left, right = self._mk(spark)
        out = {
            r.name: (r.val_r, r.t_r)
            for r in asof_join(
                left, right, on="k", payload=["val"], suffix="_r"
            ).collect()
        }
        # t=10 matches the right row AT 10 (inclusive), not 8
        assert out["p1"] == (200.0, 10)
        assert out["p2"] == (300.0, 15)
        assert out["p3"] == (None, None)  # right at t=9 is after t=5

    def test_forward_and_tolerance(self, spark):
        from openseize_spark.operators.relational import asof_join

        left, right = self._mk(spark)
        fwd = {
            r.name: r.t_r
            for r in asof_join(
                left, right, on="k", payload=["val"], direction="forward"
            ).collect()
        }
        assert fwd == {"p1": 10, "p2": None, "p3": 9}
        tol = {
            r.name: r.t_r
            for r in asof_join(
                left, right, on="k", payload=["val"], tolerance=2.0
            ).collect()
        }
        # p2 at t=20: nearest click t=15 is 5 > tolerance -> nulled
        assert tol == {"p1": 10, "p2": None, "p3": None}

    def test_one_shuffle_no_join(self, spark):
        from openseize_spark.operators.relational import asof_join

        left, right = self._mk(spark)
        plan = (
            asof_join(left, right, on="k", payload=["val"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in plan  # union + window, never a join operator


class TestSaltedJoin:
    def _data(self, spark):
        left = spark.createDataFrame(
            [(i, "hot" if i % 10 else "cold", float(i)) for i in range(200)],
            "id long, k string, v double",
        )
        right = spark.createDataFrame(
            [("hot", 1), ("cold", 100)], "k string, w int"
        )
        return left, right

    def test_equals_plain_join(self, spark):
        from openseize_spark.operators.relational import salted_join

        left, right = self._data(spark)
        got = sorted(
            (r.id, r.k, r.w)
            for r in salted_join(left, right, key="k", salt=8).collect()
        )
        exp = sorted(
            (r.id, r.k, r.w) for r in left.join(right, on="k").collect()
        )
        assert got == exp and len(got) == 200

    def test_salt_in_partitioning_and_deterministic(self, spark):
        from openseize_spark.operators.relational import salted_join

        left, right = self._data(spark)
        j = salted_join(left, right, key="k", salt=8)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan  # hot keys shatter on the salted key
        a = sorted(map(tuple, j.collect()))
        b = sorted(map(tuple, salted_join(left.repartition(7), right, key="k", salt=8).collect()))
        assert a == b  # content-derived salt: layout-invariant results

    def test_left_join_and_rejected_modes(self, spark):
        import pytest

        from openseize_spark.operators.relational import salted_join

        left, right = self._data(spark)
        # left join keeps unmatched probe rows exactly once
        l2 = left.union(
            spark.createDataFrame([(999, "orphan", 0.0)], left.schema)
        )
        got = salted_join(l2, right, key="k", salt=8, how="left").count()
        assert got == 201
        # right/full joins would duplicate unmatched build rows per salt
        with pytest.raises(ValueError):
            salted_join(left, right, key="k", salt=8, how="full")


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        import os

        li = spark.range(2000).selectExpr(
            "id % 300 AS k", "cast(id as double) AS x"
        )
        o = spark.range(300).selectExpr("id AS k", "id * 2 AS y")
        for name, df in [("t_li_b", li), ("t_ord_b", o)]:
            if spark.catalog.tableExists(name):
                spark.sql(f"DROP TABLE {name}")
            df.write.bucketBy(4, "k").sortBy("k").option(
                "path", os.path.join(str(tmp_path), name)
            ).mode("overwrite").saveAsTable(name)
        a, b = spark.table("t_li_b"), spark.table("t_ord_b")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = a.join(b, on="k")
            j.write.mode("overwrite").format("noop").save()
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # both sides scan bucketed layouts: the sort-merge join consumes
        # them directly — no Exchange anywhere in the join plan
        assert "SortMergeJoin" in plan and "Exchange" not in plan

    def test_bucketed_join_matches_plain(self, spark, tmp_path):
        import os

        li = spark.range(500).selectExpr("id % 50 AS k", "id AS x")
        o = spark.range(50).selectExpr("id AS k", "id * 3 AS y")
        for name, df in [("t2_li_b", li), ("t2_ord_b", o)]:
            if spark.catalog.tableExists(name):
                spark.sql(f"DROP TABLE {name}")
            df.write.bucketBy(4, "k").sortBy("k").option(
                "path", os.path.join(str(tmp_path), name)
            ).mode("overwrite").saveAsTable(name)
        got = sorted(
            map(tuple, spark.table("t2_li_b").join(spark.table("t2_ord_b"), on="k").collect())
        )
        exp = sorted(map(tuple, li.join(o, on="k").collect()))
        assert got == exp and len(got) == 500


class TestZorderKey:
    def test_matches_python_morton(self, spark):
        from openseize_spark.functions.scalar import zorder_key

        def morton(a, b, bits=10):
            k = 0
            for i in range(bits):
                k |= ((a >> i) & 1) << (2 * i)
                k |= ((b >> i) & 1) << (2 * i + 1)
            return k

        rows = [(a, b) for a in [0, 1, 5, 513, 1023] for b in [0, 2, 7, 1000]]
        df = spark.createDataFrame(rows, "a long, b long")
        got = {
            (r.a, r.b): r.z
            for r in df.select(
                "a", "b", zorder_key(F.col("a"), F.col("b"), bits=10).alias("z")
            ).collect()
        }
        for a, b in rows:
            assert got[(a, b)] == morton(a, b)

    def test_locality(self, spark):
        # points close in both dims get closer keys than points far in one
        from openseize_spark.functions.scalar import zorder_key

        df = spark.createDataFrame(
            [(10, 10), (11, 11), (10, 1000)], "a long, b long"
        )
        z = {
            (r.a, r.b): r.z
            for r in df.select(
                "a", "b", zorder_key(F.col("a"), F.col("b"), bits=10).alias("z")
            ).collect()
        }
        assert abs(z[(10, 10)] - z[(11, 11)]) < abs(z[(10, 10)] - z[(10, 1000)])


class TestPartitionPruning:
    def test_pruned_scan_reads_only_matching_partitions(self, spark, tmp_path):
        import datetime

        rows = [
            (i, datetime.date(2024, 1, 1 + (i % 10)), float(i))
            for i in range(100)
        ]
        df = spark.createDataFrame(rows, "id long, day date, v double")
        path = str(tmp_path / "part")
        df.write.partitionBy("day").parquet(path)
        part = spark.read.parquet(path)
        q = part.filter(F.col("day") == "2024-01-03")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "2024-01-03" in plan
        # only the matching directory's rows come back
        got = sorted(r.id for r in q.collect())
        assert got == sorted(i for i in range(100) if i % 10 == 2)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _subtree(plan: str, marker: str) -> list[str]:
    """Lines of the plan subtree rooted at the first node whose line
    contains ``marker`` (children are indented deeper than their node)."""
    lines = plan.splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    i = next(k for k, line in enumerate(lines) if marker in line)
    out = [lines[i]]
    for line in lines[i + 1 :]:
        if depth(line) <= depth(lines[i]):
            break
        out.append(line)
    return out

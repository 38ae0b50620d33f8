"""Regressions for the round-1 review findings (ADVICE.md):

1. with_halos chains multiple lags/leads when halo > block_size, so wide
   filters over small blocks no longer silently truncate the overlap.
2. zero-phase filtering keeps t for signals whose t does not start at 0
   (the backward pass runs over t descending, not n-1-t), and the EDF
   start-pushdown re-bases t.
3. pac_estimate's completeness filter uses the gathered span size
   2*(window//2), so odd windows are not all discarded.
4. write_edf pads a partial final record with a value that decodes to 0
   (when 0 is in [pmin, pmax]), not physical_min.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from openseize_spark.dsp import design, kernels
from openseize_spark.operators import fir as op_fir
from openseize_spark.operators import iir as op_iir
from openseize_spark.operators import resample as op_rs

from tests.conftest import collect_signal, make_signal


class TestWideHalo:
    def test_resample_halo_wider_than_block(self, spark):
        # M=8 -> default filter half-width 10*8 -> halo 160 samples; block
        # 64 (< halo) forces the 3-neighbor chained halo path
        sf = make_signal(spark, nchannels=2, n=2000, seed=3)
        arrays = collect_signal(sf)
        out = op_rs.resample(sf, 1, 8, block_size=64)
        got = {(r.channel, r.t): r.v for r in out.df.collect()}
        for ch, x in arrays.items():
            want = kernels.resample_poly(x, 1, 8)
            assert len([k for k in got if k[0] == ch]) == len(want)
            have = np.array([got[(ch, t)] for t in range(len(want))])
            np.testing.assert_allclose(have, want, atol=1e-10)

    def test_fir_taps_wider_than_block(self, spark):
        sf = make_signal(spark, nchannels=2, n=1000, seed=4)
        arrays = collect_signal(sf)
        spec = design.kaiser(fpass=10, fstop=20, fs=100.0, gpass=1.0, gstop=40.0)
        assert len(spec.taps) > 16  # 25 taps > block 16
        out = op_fir.apply_fir_blocks(sf, spec, mode="same", block_size=16)
        got = {(r.channel, r.t): r.v for r in out.df.collect()}
        for ch, x in arrays.items():
            want = kernels.convolve(x, spec.taps, mode="same")
            have = np.array([got[(ch, t)] for t in range(len(want))])
            np.testing.assert_allclose(have, want, atol=1e-12)


class TestReverseNonZeroBase:
    def test_sosfiltfilt_blocks_shifted_t(self, spark):
        """A channel whose t starts at 1000 (e.g. EDF read with start
        pushdown before the rebase fix) must filter identically to the
        same samples at t=0..n-1, just shifted."""
        sf0 = make_signal(spark, nchannels=1, n=1500, seed=5)
        sos = design.butter(fpass=10, fstop=20, fs=100.0, gpass=1.0, gstop=40.0)
        base = {
            r.t: r.v
            for r in op_iir.sosfiltfilt(sf0, sos).df.collect()
        }
        shifted = sf0.with_df(
            sf0.df.select(
                "recording_id", "channel", (F.col("t") + 1000).alias("t"), "v"
            )
        )
        got = {
            r.t: r.v
            for r in op_iir.sosfiltfilt(shifted, sos).df.collect()
        }
        assert {t - 1000: v for t, v in got.items()} == base


class TestPacOddWindow:
    def test_odd_window_not_all_discarded(self, spark):
        from openseize_spark.operators import coupling

        sf = make_signal(spark, nchannels=1, n=3000, seed=6)
        amp = sf.df.select(
            "recording_id", "channel", "t", F.abs("v").alias("v")
        )
        events = (
            sf.df.filter(F.col("t") % 250 == 100)
            .select("recording_id", "channel", F.col("t").alias("event_t"))
        )
        even = coupling.pac_estimate(amp, events, window=32).collect()
        odd = coupling.pac_estimate(amp, events, window=33).collect()
        assert len(odd) > 0
        # window=33 has the same half-width (16) as window=32 -> identical
        assert {(r.offset, r.mean_sq_amp) for r in odd} == {
            (r.offset, r.mean_sq_amp) for r in even
        }


class TestEdfPadValue:
    def test_partial_record_pads_to_zero(self, tmp_path):
        from openseize_spark.sources import edf

        fs = {0: 10.0}
        data = {0: np.linspace(-1.0, 1.0, 25)}  # 2.5 records at spr=10
        path = str(tmp_path / "pad.edf")
        edf.write_edf(
            path, data, fs, physical_range=(-8192.0, 8192.0), record_duration=1.0
        )
        hdr = edf.read_header(path)
        raw = edf.read_records(path, hdr, 0, hdr.num_records)
        phys = edf.decode_records(raw, hdr, [0])[0]
        assert len(phys) == 30
        # int16 quantization step = 16384/65535 ~ 0.25; the pad decodes to
        # the representable value nearest 0 (was pmin = -8192 before the
        # fix), and data round-trips to within half a step
        step = 16384.0 / 65535.0
        np.testing.assert_allclose(phys[25:], 0.0, atol=step / 2 + 1e-9)
        np.testing.assert_allclose(phys[:25], data[0], atol=step / 2 + 1e-9)


class TestParetoFrontier:
    def test_matches_brute_force(self, spark):
        """The bucketed two-level cumulative-max skyline equals the
        O(n^2) dominance definition on a deterministic fixture."""
        import itertools

        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        rng_pts = [
            (i, 100 + (i * 37) % 50, 1 + (i * 13) % 20) for i in range(40)
        ]
        # build a tiny part table and run the same pipeline inline
        df = spark.createDataFrame(
            [(k, float(p) / 100.0, s) for k, p, s in rng_pts],
            "p_partkey long, p_retailprice double, p_size int",
        )
        import tempfile, os

        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "part.parquet"))
        got = {
            r.p_partkey
            for r in entry.queries()["pareto_parts"](spark, d).collect()
        }

        def dominated(a, b):  # b dominates a
            return (
                b[1] <= a[1]
                and b[2] >= a[2]
                and (b[1] < a[1] or b[2] > a[2])
            )

        exp = {
            k
            for (k, p, s) in rng_pts
            if not any(
                dominated((k, p, s), (k2, p2, s2))
                for (k2, p2, s2) in rng_pts
                if k2 != k
            )
        }
        assert got == exp


class TestRendezvousRouting:
    def test_matches_python_hrw(self, spark):
        """Shard histogram equals a Python highest-random-weight replay
        with the same salted md5 hashes."""
        import hashlib
        import tempfile, os

        import __spark_entry__ as entry

        docs = [(i, f"t{i}", "en", "s", 2) for i in range(60)]
        df = spark.createDataFrame(
            docs, "doc_id long, text string, lang string, source string, n_chars long"
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        got = {
            r.shard: r.n_docs
            for r in entry.queries()["rendezvous_shards"](spark, d).collect()
        }

        def h(doc_id, s):
            m = hashlib.md5(f"rv6:{doc_id}#s{s}".encode()).hexdigest()
            return int(m[:8], 16)

        exp = {}
        for i, *_ in docs:
            best = max(range(8), key=lambda s: (h(i, s), -s))
            exp[best] = exp.get(best, 0) + 1
        assert got == exp


class TestWeightedMedian:
    def test_matches_python_rule(self, spark):
        """The inequality-join weighted median equals the textbook
        smallest-size-reaching-half-total rule on a fixture."""
        import tempfile, os

        import __spark_entry__ as entry

        # brand X: sizes 1 (w 3), 5 (w 2), 9 (w 5)  -> cum 3,5,10; half=5
        #   smallest size with 2*cum >= 10 is 5
        # brand Y: single size
        li = [
            (1, 101, 1, 1, 3.0), (2, 101, 1, 2, 0.0),
            (3, 102, 1, 3, 2.0), (4, 103, 1, 4, 5.0),
            (5, 104, 1, 5, 7.0),
        ]
        li_rows = [
            (ok, pk, 1, ln, q, 1.0, 0.0, 0.0, "N", "O",
             __import__("datetime").datetime(2024, 1, 1))
            for (ok, pk, _, ln, q) in li
        ]
        parts = [
            (101, "pa", "X", "t", 1, 1.0),
            (102, "pb", "X", "t", 5, 1.0),
            (103, "pc", "X", "t", 9, 1.0),
            (104, "pd", "Y", "t", 7, 1.0),
        ]
        d = tempfile.mkdtemp()
        spark.createDataFrame(
            li_rows,
            "l_orderkey long, l_partkey long, l_suppkey long,"
            " l_linenumber int, l_quantity double, l_extendedprice double,"
            " l_discount double, l_tax double, l_returnflag string,"
            " l_linestatus string, l_shipdate timestamp",
        ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        spark.createDataFrame(
            parts,
            "p_partkey long, p_name string, p_brand string, p_type string,"
            " p_size int, p_retailprice double",
        ).write.mode("overwrite").parquet(os.path.join(d, "part.parquet"))
        got = {
            r.p_brand: (r.wmedian_size, r.total_qty)
            for r in entry.queries()["weighted_median"](spark, d).collect()
        }
        assert got == {"X": (5, 10), "Y": (7, 7)}

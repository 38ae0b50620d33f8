"""Partition-invariance: the single most important correctness idea from
the reference (chunksize-invariance, tests/test_resampling.py:64-89) —
distributed block kernels must equal whole-array numpy kernels for every
partition/block layout."""

from functools import reduce

import numpy as np
import pytest

from openseize_spark.dsp import design, kernels
from openseize_spark.operators import fir as op_fir
from openseize_spark.operators import iir as op_iir
from openseize_spark.operators import resample as op_rs
from openseize_spark.operators import spectral as op_spec

from tests.conftest import collect_signal, make_signal

SPEC = design.kaiser(fpass=10, fstop=20, fs=100.0, gstop=40.0)


@pytest.fixture(scope="module")
def arrays(signal):
    return collect_signal(signal)


class TestFir:
    def test_sql_path_vs_numpy(self, signal, arrays):
        got = {
            (r.channel, r.t): r.v for r in op_fir.apply_fir_sql(signal, SPEC).df.collect()
        }
        for ch, x in arrays.items():
            want = kernels.convolve(x, SPEC.taps, "same")
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_allclose(have, want, atol=1e-12)

    @pytest.mark.parametrize("block_size", [97, 512, 100000])
    def test_blocks_any_blocksize(self, signal, arrays, block_size):
        got = {
            (r.channel, r.t): r.v
            for r in op_fir.apply_fir_blocks(signal, SPEC, block_size=block_size).df.collect()
        }
        for ch, x in arrays.items():
            want = kernels.convolve(x, SPEC.taps, "same")
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_allclose(have, want, atol=1e-12)

    def test_valid_mode(self, signal, arrays):
        out = op_fir.apply_fir_sql(signal, SPEC, mode="valid")
        got = {(r.channel, r.t): r.v for r in out.df.collect()}
        L = SPEC.numtaps
        for ch, x in arrays.items():
            want = kernels.convolve(x, SPEC.taps, "valid")
            have = np.array([got[(ch, t)] for t in range(len(x) - L + 1)])
            np.testing.assert_allclose(have, want, atol=1e-12)

    def test_repartition_invariance(self, spark):
        sf = make_signal(spark, nchannels=2, n=3000, seed=5)
        ref = None
        for parts in (1, 7, 64):
            sf2 = sf.with_df(sf.df.repartition(parts))
            got = {
                (r.channel, r.t): r.v
                for r in op_fir.apply_fir_blocks(sf2, SPEC, block_size=333).df.collect()
            }
            if ref is None:
                ref = got
            else:
                assert set(got) == set(ref)
                assert all(abs(got[k] - ref[k]) < 1e-12 for k in ref)


BUTTER = design.butter(fpass=10, fstop=20, fs=100.0)
NOTCH = design.notch(fstop=15.0, width=4.0, fs=100.0)
BA = (reduce(np.convolve, BUTTER.sos[:, :3]), reduce(np.convolve, BUTTER.sos[:, 3:]))
# filter -> (operator(sf), whole-array kernel)
IIR = {
    "sosfilt": (
        lambda sf: op_iir.sosfilt(sf, BUTTER),
        lambda x: kernels.sosfilt(BUTTER.sos, x)[0],
    ),
    "sosfiltfilt": (
        lambda sf: op_iir.sosfiltfilt(sf, BUTTER),
        lambda x: kernels.sosfiltfilt(BUTTER.sos, x),
    ),
    "lfilter": (
        lambda sf: op_iir.lfilter(sf, *BA),
        lambda x: kernels.lfilter(*BA, x)[0],
    ),
    "filtfilt": (
        lambda sf: op_iir.filtfilt(sf, *BA),
        lambda x: kernels.filtfilt(*BA, x),
    ),
    "notch": (
        lambda sf: op_iir.sosfilt(sf, NOTCH),
        lambda x: kernels.sosfilt(NOTCH.sos, x)[0],
    ),
}


def _assert_exact(sf, arrays, name, batch_rows=None):
    """The carried engine equals the whole-array kernel bit for bit, and
    every output row keeps its input ``t``.  ``batch_rows`` sets the
    Arrow batch size for this one collect: batches shorter than a
    channel make the state pass from one batch to the next inside the
    generator."""
    run, kernel = IIR[name]
    conf = sf.df.sparkSession.conf
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = conf.get(key)
    if batch_rows is not None:
        conf.set(key, str(batch_rows))
    try:
        got = {(r.channel, r.t): r.v for r in run(sf).df.collect()}
    finally:
        conf.set(key, old)
    assert len(got) == sum(len(x) for x in arrays.values())
    for ch, x in arrays.items():
        have = np.array([got[(ch, t)] for t in range(len(x))])
        np.testing.assert_array_equal(have, kernel(x), err_msg=f"{name} ch {ch}")


class TestIir:
    """Every IIR filter runs one engine (``iir._carried``); the state is
    carried across Arrow batches, the engine's blocks, so no batch size
    may change a single bit."""

    @pytest.mark.parametrize("batch_rows", [97, 512, 4096])
    def test_sosfilt_blocks_any_blocksize(self, signal, arrays, batch_rows):
        _assert_exact(signal, arrays, "sosfilt", batch_rows)

    @pytest.mark.parametrize("batch_rows", [97, 512, 4096])
    def test_sosfiltfilt_blocks_any_blocksize(self, signal, arrays, batch_rows):
        _assert_exact(signal, arrays, "sosfiltfilt", batch_rows)

    @pytest.mark.parametrize("batch_rows", [97, 512, 4096])
    def test_lfilter_filtfilt_blocks_any_blocksize(self, signal, arrays, batch_rows):
        _assert_exact(signal, arrays, "lfilter", batch_rows)
        _assert_exact(signal, arrays, "filtfilt", batch_rows)

    def test_sosfilt_vs_numpy(self, signal, arrays):
        _assert_exact(signal, arrays, "sosfilt")

    def test_sosfiltfilt_vs_numpy(self, signal, arrays):
        _assert_exact(signal, arrays, "sosfiltfilt")

    def test_filtfilt_ba_vs_numpy(self, signal, arrays):
        _assert_exact(signal, arrays, "filtfilt")

    def test_notch_sosfilt_vs_numpy(self, signal, arrays):
        _assert_exact(signal, arrays, "notch")

    @pytest.mark.parametrize("name", ["sosfilt", "sosfiltfilt", "lfilter", "filtfilt"])
    def test_gapped_t(self, spark, name):
        # every third sample dropped: t is kept as given, and v is the
        # kernel over the surviving samples in t order
        sf = make_signal(spark, nchannels=2, n=1500, seed=9)
        sf = sf.with_df(sf.df.filter("t % 3 != 2"))
        run, kernel = IIR[name]
        got = run(sf).df.toPandas().sort_values(["channel", "t"])
        want = sf.df.toPandas().sort_values(["channel", "t"])
        assert list(zip(got["channel"], got["t"])) == list(zip(want["channel"], want["t"]))
        for ch, g in want.groupby("channel"):
            np.testing.assert_array_equal(
                got[got["channel"] == ch]["v"].to_numpy(), kernel(g["v"].to_numpy())
            )


class TestResample:
    @pytest.mark.parametrize(
        "L,M,block",
        [(1, 2, 512), (2, 3, 97 * 3), (3, 2, 4096), (2, 5, 1000), (3, 1, 512)],
    )
    def test_blocks_vs_numpy(self, signal, arrays, L, M, block):
        out = op_rs.resample(signal, L, M, block_size=block)
        got = {(r.channel, r.t): r.v for r in out.df.collect()}
        for ch, x in arrays.items():
            want = kernels.resample_poly(x, L, M)
            have = np.array([got[(ch, t)] for t in range(len(want))])
            assert len([k for k in got if k[0] == ch]) == len(want)
            np.testing.assert_allclose(have, want, atol=1e-10)

    def test_fs_metadata(self, signal):
        out = op_rs.downsample(signal, 4)
        assert out.fs == signal.fs / 4

    def test_large_m_blas_branch_invariance(self, signal, arrays):
        # M=64 -> default Kaiser filter has 20*64+1 = 1281 taps > the
        # 1024-tap fold ceiling, exercising polyphase_apply's BLAS branch;
        # block and whole-array paths must still agree exactly because K
        # depends only on (h, L), never on blocking
        out = op_rs.downsample(signal, 64, block_size=512)
        got = {(r.channel, r.t): r.v for r in out.df.collect()}
        for ch, x in arrays.items():
            want = kernels.resample_poly(x, 1, 64)
            have = np.array([got[(ch, t)] for t in range(len(want))])
            assert len([k for k in got if k[0] == ch]) == len(want)
            np.testing.assert_array_equal(have, want)


class TestWelch:
    def test_per_channel_vs_numpy(self, signal, arrays):
        res = op_spec.welch_psd(signal, nfft=256, overlap=0.5).collect()
        by_ch = {}
        for r in res:
            by_ch.setdefault(r.channel, {})[r.freq] = r.psd
        for ch, x in arrays.items():
            freqs, want = kernels.welch(x, 100.0, 256)
            have = np.array([by_ch[ch][f] for f in freqs])
            np.testing.assert_allclose(have, want, atol=1e-12)

    @pytest.mark.parametrize("segs_per_block", [1, 3, 1000])
    def test_block_path_equals_channel_path(self, signal, segs_per_block):
        a = {
            (r.channel, r.freq): (r.psd, r.nsegs)
            for r in op_spec.welch_psd(signal, nfft=256).collect()
        }
        b = {
            (r.channel, r.freq): (r.psd, r.nsegs)
            for r in op_spec.welch_psd_blocks(
                signal, nfft=256, segs_per_block=segs_per_block
            ).collect()
        }
        assert set(a) == set(b)
        for k in a:
            assert a[k][1] == b[k][1]
            assert abs(a[k][0] - b[k][0]) < 1e-12

    def test_stft_vs_numpy(self, signal, arrays):
        rows = op_spec.stft(signal, nfft=128, overlap=0.5).collect()
        by = {}
        for r in rows:
            by[(r.channel, r.seg, r.freq)] = complex(r.re, r.im)
        for ch, x in arrays.items():
            freqs, times, Z = kernels.stft(x, 100.0, 128, 0.5)
            for si in range(Z.shape[0]):
                for fi in range(0, Z.shape[1], 17):
                    assert abs(by[(ch, si, freqs[fi])] - Z[si, fi]) < 1e-12

    @pytest.mark.parametrize(
        "nfft,overlap,boundary,padded,segs_per_block",
        [
            (128, 0.5, True, True, 3),
            (128, 0.5, True, True, 1000),
            # overlap<0.5 -> phantom tail segments beyond the data, owned
            # by the last block
            (96, 0.25, True, True, 5),
            (64, 0.5, False, False, 9),
        ],
    )
    def test_stft_blocks_bitexact(
        self, signal, nfft, overlap, boundary, padded, segs_per_block
    ):
        a = {
            (r.channel, r.seg, r.freq): (r.re, r.im, r.time)
            for r in op_spec.stft(
                signal, nfft=nfft, overlap=overlap, boundary=boundary, padded=padded
            ).collect()
        }
        b = {
            (r.channel, r.seg, r.freq): (r.re, r.im, r.time)
            for r in op_spec.stft_blocks(
                signal,
                nfft=nfft,
                overlap=overlap,
                boundary=boundary,
                padded=padded,
                segs_per_block=segs_per_block,
            ).collect()
        }
        assert a == b  # bit-exact: identical segment floats -> identical FFT


class TestPacSignal:
    def test_welch_finds_construction_peaks(self, spark):
        """The PAC demo signal has spectral peaks at fp and fa by
        construction (reference: demos/signals.py:7-117) — the end-to-end
        generator -> Welch pipeline must find them."""
        from openseize_spark.sources.generator import pac_signal

        sf = pac_signal(spark, fs=500.0, duration=8.0, fp=8.0, fa=40.0, seed=3)
        rows = op_spec.welch_psd(sf, nfft=1000, overlap=0.5).collect()
        freqs = np.array([r.freq for r in rows])
        psd = np.array([r.psd for r in rows])
        # strongest peak at the phase frequency
        assert freqs[np.argmax(psd)] == pytest.approx(8.0, abs=0.5)
        # amplitude carrier peak present and prominent vs its neighborhood
        at40 = psd[np.argmin(np.abs(freqs - 40.0))]
        near = psd[(freqs > 44) & (freqs < 49)].mean()
        assert at40 > 10 * near

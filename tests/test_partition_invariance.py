"""Partition-invariance: the single most important correctness idea from
the reference (chunksize-invariance, tests/test_resampling.py:64-89) —
distributed block kernels must equal whole-array numpy kernels for every
partition/block layout."""

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


class TestIir:
    def test_sosfilt_vs_numpy(self, signal, arrays):
        spec = design.butter(fpass=10, fstop=20, fs=100.0)
        got = {(r.channel, r.t): r.v for r in op_iir.sosfilt(signal, spec).df.collect()}
        for ch, x in arrays.items():
            want, _ = kernels.sosfilt(spec.sos, x)
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_allclose(have, want, atol=1e-12)

    @pytest.mark.parametrize("block_size", [97, 512, 4096])
    def test_sosfilt_blocks_any_blocksize(self, signal, arrays, block_size):
        # the block path carries the exact state from block to block, so
        # it equals the sequential whole-array kernel for every layout
        spec = design.butter(fpass=10, fstop=20, fs=100.0)
        got = {
            (r.channel, r.t): r.v
            for r in op_iir.sosfilt_blocks(signal, spec, block_size=block_size).df.collect()
        }
        for ch, x in arrays.items():
            want, _ = kernels.sosfilt(spec.sos, x)
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_array_equal(have, want)

    @pytest.mark.parametrize("block_size", [97, 512, 4096])
    def test_sosfiltfilt_blocks_any_blocksize(self, signal, arrays, block_size):
        # zero-phase two-pass block path vs whole-array kernel
        spec = design.butter(fpass=10, fstop=20, fs=100.0)
        got = {
            (r.channel, r.t): r.v
            for r in op_iir.sosfiltfilt_blocks(
                signal, spec, block_size=block_size
            ).df.collect()
        }
        for ch, x in arrays.items():
            want = kernels.sosfiltfilt(spec.sos, x)
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_array_equal(have, want)

    @pytest.mark.parametrize("block_size", [512, 4096])
    def test_lfilter_filtfilt_blocks_any_blocksize(self, signal, arrays, block_size):
        # ba-form block paths vs whole-array kernels
        spec = design.butter(fpass=10, fstop=20, fs=100.0)
        b, a = np.array([1.0]), np.array([1.0])
        for s in spec.sos:
            b = np.convolve(b, s[:3])
            a = np.convolve(a, s[3:])
        got = {
            (r.channel, r.t): r.v
            for r in op_iir.lfilter_blocks(signal, b, a, block_size=block_size).df.collect()
        }
        gotz = {
            (r.channel, r.t): r.v
            for r in op_iir.filtfilt_blocks(signal, b, a, block_size=block_size).df.collect()
        }
        for ch, x in arrays.items():
            want, _ = kernels.lfilter(b, a, x)
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_array_equal(have, want)
            wantz = kernels.filtfilt(b, a, x)
            havez = np.array([gotz[(ch, t)] for t in range(len(x))])
            np.testing.assert_array_equal(havez, wantz)

    def test_sosfiltfilt_vs_numpy(self, signal, arrays):
        spec = design.butter(fpass=10, fstop=20, fs=100.0)
        got = {(r.channel, r.t): r.v for r in op_iir.sosfiltfilt(signal, spec).df.collect()}
        for ch, x in arrays.items():
            want = kernels.sosfiltfilt(spec.sos, x)
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_allclose(have, want, atol=1e-12)

    def test_filtfilt_ba_vs_numpy(self, signal, arrays):
        spec = design.butter(fpass=10, fstop=20, fs=100.0)
        b, a = np.array([1.0]), np.array([1.0])
        for s in spec.sos:
            b = np.convolve(b, s[:3])
            a = np.convolve(a, s[3:])
        got = {(r.channel, r.t): r.v for r in op_iir.filtfilt(signal, b, a).df.collect()}
        for ch, x in arrays.items():
            want = kernels.filtfilt(b, a, x)
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_allclose(have, want, atol=1e-12)

    def test_notch_sosfilt_vs_numpy(self, signal, arrays):
        spec = design.notch(fstop=15.0, width=4.0, fs=100.0)
        got = {(r.channel, r.t): r.v for r in op_iir.sosfilt(signal, spec).df.collect()}
        for ch, x in arrays.items():
            want, _ = kernels.sosfilt(spec.sos, x)
            have = np.array([got[(ch, t)] for t in range(len(x))])
            np.testing.assert_allclose(have, want, atol=1e-12)


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

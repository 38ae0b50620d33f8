"""Degenerate inputs through the block operators: a one-sample channel, a
channel shorter than ``nfft``, and a batch in which every block is
skipped (``blocks.map_blocks`` then yields its schema-derived empty
frame).  Each block operator must match its whole-channel twin or the
numpy kernel on every channel."""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import StructType

from openseize_spark.dsp import design, kernels
from openseize_spark.operators import blocks as B
from openseize_spark.operators import fir as op_fir
from openseize_spark.operators import iir as op_iir
from openseize_spark.operators import resample as op_rs
from openseize_spark.operators import spectral as op_sp
from openseize_spark.signal import SignalFrame

FS = 100.0
NFFT = 64
BLOCK = 64  # several blocks for the long channel, one for the short ones
FIR = design.kaiser(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0)
SOS = design.butter(fpass=10, fstop=20, fs=FS, gpass=1.0, gstop=40.0).sos
BA = (reduce(np.convolve, SOS[:, :3]), reduce(np.convolve, SOS[:, 3:]))  # one-stage form

MIXED = {0: 1, 1: NFFT // 2 + 8, 2: 300}  # channel -> length
SHORT = {0: 1, 1: NFFT // 2 + 8}  # every channel shorter than NFFT


def _frame(spark, lengths: dict[int, int]):
    rng = np.random.default_rng(11)
    arrays = {ch: rng.normal(size=n) for ch, n in lengths.items()}
    pdf = pd.concat(
        pd.DataFrame({"recording_id": "r0", "channel": ch, "t": np.arange(len(x)), "v": x})
        for ch, x in arrays.items()
    )
    df = spark.createDataFrame(pdf, "recording_id string, channel int, t bigint, v double")
    return SignalFrame(df=df.repartition(2), fs=FS), arrays


def _by_channel(sf) -> dict[int, np.ndarray]:
    pdf = sf.df.toPandas().sort_values(["channel", "t"])
    for ch, g in pdf.groupby("channel"):
        assert list(g["t"]) == list(range(len(g))), ch
    return {int(ch): g["v"].to_numpy() for ch, g in pdf.groupby("channel")}


SAMPLE_OPS = {
    "apply_fir_blocks": (
        lambda sf: op_fir.apply_fir_blocks(sf, FIR, block_size=BLOCK),
        lambda x: kernels.convolve(x, FIR.taps, "same"),
    ),
    "sosfilt_blocks": (
        lambda sf: op_iir.sosfilt(sf, SOS),
        lambda x: kernels.sosfilt(SOS, x)[0],
    ),
    "sosfiltfilt_blocks": (
        lambda sf: op_iir.sosfiltfilt(sf, SOS),
        lambda x: kernels.sosfiltfilt(SOS, x),
    ),
    "lfilter_blocks": (
        lambda sf: op_iir.lfilter(sf, *BA),
        lambda x: kernels.lfilter(*BA, x)[0],
    ),
    "filtfilt_blocks": (
        lambda sf: op_iir.filtfilt(sf, *BA),
        lambda x: kernels.filtfilt(*BA, x),
    ),
    "resample": (
        lambda sf: op_rs.resample(sf, 1, 2, block_size=BLOCK),
        lambda x: kernels.resample_poly(x, 1, 2),
    ),
}


@pytest.mark.parametrize("lengths", [MIXED, SHORT], ids=["mixed", "short"])
@pytest.mark.parametrize("op", sorted(SAMPLE_OPS))
def test_sample_operators_match_kernel(spark, op, lengths):
    run, kernel = SAMPLE_OPS[op]
    sf, arrays = _frame(spark, lengths)
    got = _by_channel(run(sf))
    assert set(got) == set(arrays)
    for ch, x in arrays.items():
        np.testing.assert_allclose(got[ch], kernel(x), rtol=0, atol=1e-9, err_msg=f"ch {ch}")


@pytest.mark.parametrize("lengths", [MIXED, SHORT], ids=["mixed", "short"])
def test_stft_blocks_matches_kernel(spark, lengths):
    sf, arrays = _frame(spark, lengths)
    pdf = op_sp.stft_blocks(sf, nfft=NFFT, segs_per_block=BLOCK // (NFFT // 2)).toPandas()
    assert set(pdf["channel"]) == set(arrays)
    for ch, x in arrays.items():
        freqs, times, Z = kernels.stft(x, FS, NFFT)
        g = pdf[pdf["channel"] == ch].sort_values(["seg", "freq"])
        nseg, nfreq = Z.shape
        assert list(g["seg"]) == list(np.repeat(np.arange(nseg), nfreq)), ch
        np.testing.assert_allclose(g["time"], np.repeat(times, nfreq), atol=1e-12)
        np.testing.assert_allclose(g["freq"], np.tile(freqs, nseg), atol=1e-12)
        np.testing.assert_allclose(g["re"], Z.real.ravel(), atol=1e-12)
        np.testing.assert_allclose(g["im"], Z.imag.ravel(), atol=1e-12)


def _psd_rows(df) -> dict:
    return {
        (r.channel, r.freq): (r.psd, r.nsegs)
        for r in df.select("channel", "freq", "psd", "nsegs").collect()
    }


def test_welch_psd_blocks_long_channel_matches_twin(spark):
    sf, _ = _frame(spark, MIXED)
    got = _psd_rows(op_sp.welch_psd_blocks(sf, nfft=NFFT, segs_per_block=2))
    want = _psd_rows(op_sp.welch_psd(sf, nfft=NFFT))
    long_ch = max(MIXED, key=MIXED.get)
    mine = {k: v for k, v in got.items() if k[0] == long_ch}
    assert mine.keys() == {k for k in want if k[0] == long_ch}
    for k, (psd, nsegs) in mine.items():
        assert nsegs == want[k][1]
        assert psd == pytest.approx(want[k][0], rel=1e-12, abs=1e-15)


@pytest.mark.parametrize("lengths", [MIXED, SHORT], ids=["mixed", "short"])
def test_welch_psd_blocks_short_channels_match_twin(spark, lengths):
    sf, _ = _frame(spark, lengths)
    got = _psd_rows(op_sp.welch_psd_blocks(sf, nfft=NFFT, segs_per_block=2))
    want = _psd_rows(op_sp.welch_psd(sf, nfft=NFFT))
    assert got.keys() == want.keys()


def test_all_blocks_skipped_yields_declared_schema(spark):
    """Every block of every batch skipped: each batch yields the empty
    frame built from the schema, and the result is empty, not an error."""
    sf, _ = _frame(spark, SHORT)
    bdf = B.halo_blocks(sf.df, BLOCK, 0, 0)

    def _skip(row):
        return None

    out = B.map_blocks(bdf, _skip, B.SAMPLE_BLOCKS)
    assert out.collect() == []
    assert out.schema == StructType.fromDDL(B.SAMPLE_BLOCKS)
    # welch_psd_blocks skips every block of a frame with no full segment
    assert op_sp.welch_psd_blocks(sf, nfft=NFFT, segs_per_block=2).collect() == []

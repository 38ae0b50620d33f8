"""Spectral estimators: periodogram / Welch PSD / STFT / band power.

Two physical strategies, both returning identical results (tested):

1. ``welch_psd`` — per-(recording, channel) ``applyInPandas``: the whole
   channel series enters one Arrow batch, `dsp.kernels.welch` runs
   vectorized numpy.  Parallelism = #recordings × #channels.  Right when
   channels fit executor memory (the common EEG case; this is the
   documented M5-style exception, SURVEY §7).

2. ``welch_psd_blocks`` — the 100-TB path: stride-aligned blocks with an
   (nfft - stride) right halo via lag/lead (operators/blocks.py), each
   block emits its own segments' periodograms inside ``mapInPandas``, and
   a groupBy(channel, freq) average combines them.  Memory per task is
   O(block), independent of channel length — the exact analog of the
   reference's bounded-memory guarantee (paper/paper.md:59-66).

Welch segmentation semantics follow the reference: stride = nfft -
overlap*nfft, trailing partial segment dropped
(reference: core/numerical.py:852-947).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openseize_spark.dsp import kernels
from openseize_spark.operators import blocks as B
from openseize_spark.signal import SignalFrame

_PSD_SCHEMA = (
    "recording_id string, channel int, freq double, psd double, nsegs long"
)


def welch_psd(
    sf: SignalFrame,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend: str = "constant",
    scaling: str = "density",
) -> DataFrame:
    """Welch PSD per channel -> (recording_id, channel, freq, psd, nsegs).

    reference: spectra/estimators.py:59-156 (public psd) over
    core/numerical.py:852-947 (welch).
    """
    fs = float(sf.fs)

    def _welch(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        x = pdf["v"].to_numpy()
        stride = int(nfft - overlap * nfft)
        if len(x) < nfft:  # no full segment: no rows, as welch_psd_blocks
            return pd.DataFrame(columns=["recording_id", "channel", "freq", "psd", "nsegs"])
        segs = kernels.sliding_segments(x, nfft, stride)
        freqs, p = kernels.periodogram_segments(segs, fs, window, detrend, scaling)
        return pd.DataFrame(
            {
                "recording_id": pdf["recording_id"].iloc[0],
                "channel": pdf["channel"].iloc[0],
                "freq": freqs,
                "psd": p.mean(axis=0),
                "nsegs": len(segs),
            }
        )

    return sf.df.groupBy("recording_id", "channel").applyInPandas(_welch, _PSD_SCHEMA)


def welch_psd_blocks(
    sf: SignalFrame,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend: str = "constant",
    scaling: str = "density",
    segs_per_block: int = 256,
) -> DataFrame:
    """Scale-out Welch: bounded memory per task regardless of channel length.

    Blocks are aligned to `stride` so every segment is fully contained in
    exactly one (block + right halo); the halo is nfft - stride samples
    from the next block.  Per-block partial (sum, count) aggregates combine
    exactly like the reference's running mean
    (spectra/estimators.py:150-156) — final avg = sum/count.
    """
    fs = float(sf.fs)
    stride = int(nfft - overlap * nfft)
    block = segs_per_block * stride
    halo = max(nfft - stride, 0)

    bdf = B.halo_blocks(sf.df, block, 0, halo)

    def _block_psd(row):
        x = np.concatenate([row.vs, row.right])
        # segments starting inside this block only
        nstarts = (len(x) - nfft) // stride + 1 if len(x) >= nfft else 0
        nstarts = min(nstarts, (len(row.vs) + stride - 1) // stride)
        if nstarts <= 0:
            return None
        segs = kernels.sliding_segments(x, nfft, stride)[:nstarts]
        freqs, p = kernels.periodogram_segments(segs, fs, window, detrend, scaling)
        return {"freq": freqs, "psum": p.sum(axis=0), "nsegs": np.full(len(freqs), len(segs))}

    # hashed by channel, not (channel, freq): a per-channel aggregate
    # downstream (band_power) then reuses this exchange instead of adding one
    partials = B.map_blocks(
        bdf, _block_psd, "recording_id string, channel int, freq double, psum double, nsegs long"
    ).repartition("recording_id", "channel")
    return (
        partials.groupBy("recording_id", "channel", "freq")
        .agg(
            (F.sum("psum") / F.sum("nsegs")).alias("psd"),
            F.sum("nsegs").alias("nsegs"),
        )
        .select("recording_id", "channel", "freq", "psd", "nsegs")
    )


_STFT_SCHEMA = (
    "recording_id string, channel int, seg long, time double, freq double, "
    "re double, im double"
)


def stft(
    sf: SignalFrame,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend: str = "constant",
    scaling: str = "density",
    boundary: bool = True,
    padded: bool = True,
) -> DataFrame:
    """STFT -> (recording_id, channel, seg, time, freq, re, im).

    Complex spectra as (re, im) double columns — Spark has no complex type
    (SURVEY §1.4).  reference: core/numerical.py:950-1087,
    spectra/estimators.py:160-284.
    """
    fs = float(sf.fs)

    def _stft(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        x = pdf["v"].to_numpy()
        freqs, times, Z = kernels.stft(
            x, fs, nfft, overlap, window, detrend, scaling, boundary, padded
        )
        nseg, nfreq = Z.shape
        return pd.DataFrame(
            {
                "recording_id": pdf["recording_id"].iloc[0],
                "channel": pdf["channel"].iloc[0],
                "seg": np.repeat(np.arange(nseg), nfreq),
                "time": np.repeat(times, nfreq),
                "freq": np.tile(freqs, nseg),
                "re": Z.real.ravel(),
                "im": Z.imag.ravel(),
            }
        )

    return sf.df.groupBy("recording_id", "channel").applyInPandas(_stft, _STFT_SCHEMA)


def stft_blocks(
    sf: SignalFrame,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend: str = "constant",
    scaling: str = "density",
    boundary: bool = True,
    padded: bool = True,
    segs_per_block: int = 256,
) -> DataFrame:
    """Scale-out STFT: bounded memory per task regardless of channel length
    — the block twin of ``stft`` (same result, tested bit-exact), closing
    the one scale gap the round-1 review flagged.

    Segment starts live on the *padded* axis (boundary pad nfft//2, tail
    pad to whole strides; reference: core/numerical.py:1039-1051); mapped
    to the original axis they sit at o = s*stride - P.  Each stride-aligned
    block owns the starts falling inside it (block 0 additionally owns the
    negative boundary starts; the channel's last block owns any phantom
    tail starts beyond the data, which read pure pad zeros), and a right
    halo of nfft samples covers every owned segment's span, so each
    segment is computed exactly once with no aggregation.  Per-task memory
    is O(block); one shuffle (``blocks.halo_blocks``), which also yields
    the channel length.
    """
    fs = float(sf.fs)
    stride = int(nfft - overlap * nfft)
    P = nfft // 2 if boundary else 0
    block = segs_per_block * stride
    if block < nfft:
        raise ValueError("segs_per_block * stride must be >= nfft")

    bdf = B.halo_blocks(sf.df, block, 0, min(nfft, block))

    win = kernels.get_window(window, nfft)
    denom = float(np.sqrt(fs * np.sum(win**2))) if scaling == "density" else float(np.sum(win))
    freqs = np.fft.rfftfreq(nfft, d=1.0 / fs)

    def _block_stft(row):
        t0, n = int(row.t0), int(row.n)
        x_ext = np.concatenate([row.vs, row.right])
        nvs = len(row.vs)
        # global padded length -> last start on the original axis
        total = n + 2 * P
        if padded and (total - nfft) % stride != 0:
            total += stride - (total - nfft) % stride
        o_last = total - nfft - P
        # starts owned by this block
        lo = -P if t0 == 0 else t0 + ((-P - t0) % stride)
        hi = o_last if t0 + nvs >= n else t0 + nvs - 1
        hi = min(hi, o_last)
        if hi < lo:
            return None
        nstarts = (hi - lo) // stride + 1
        # local array covering [lo, hi + nfft) with pad zeros
        left_pad = max(t0 - lo, 0)
        right_pad = max((hi + nfft) - (t0 + len(x_ext)), 0)
        xloc = np.concatenate([np.zeros(left_pad), x_ext, np.zeros(right_pad)])
        segs = kernels.sliding_segments(xloc[lo - t0 + left_pad :], nfft, stride)[:nstarts]
        xs = kernels.detrend(segs, detrend) * win
        spec = np.fft.rfft(xs, axis=-1) / denom
        s_idx = (lo + P) // stride + np.arange(nstarts)
        nfreq = len(freqs)
        return {
            "seg": np.repeat(s_idx, nfreq),
            "time": np.repeat((s_idx * stride + nfft / 2 - P) / fs, nfreq),
            "freq": np.tile(freqs, nstarts),
            "re": spec.real.ravel(),
            "im": spec.imag.ravel(),
        }

    return B.map_blocks(bdf, _block_stft, _STFT_SCHEMA)


def coherence(
    sf: SignalFrame,
    ch_a: int,
    ch_b: int,
    nfft: int,
    overlap: float = 0.5,
    window: str = "hann",
    detrend: str = "constant",
) -> DataFrame:
    """Magnitude-squared coherence + cross-spectral density between two
    channels: Cxy = |Sxy|^2 / (Sxx * Syy) from Welch-averaged segment
    spectra — the cross-channel companion of ``welch_psd`` (connectivity
    analysis between EEG electrodes; the reference stops at auto-spectra,
    spectra/estimators.py:59-156, so this is parity-plus built on the
    same segmentation semantics).

    Physical strategy: one ``applyInPandas`` group per recording holding
    just the two requested channels (the filter prunes the scan), so
    parallelism = #recordings — the documented M5-style whole-channel
    exception; both channels must fit one Arrow batch.

    Determinism: the per-(segment, bin) cross/auto products are
    quantized to integer 1e-12 units and summed EXACTLY
    (kernels.cross_spectra_int) before the single division — float
    averages are summation-order-sensitive, and the coherence ratio
    multiplies two of them before a round-at-9, so a 1-ulp reordering in
    a parallel aggregate (engine or oracle side) could flip an output
    cell.  Integer sums are associative; both sides now agree
    bit-for-bit regardless of partition/merge order.

    Returns (recording_id, freq, csd_re, csd_im, coherence, nsegs),
    csd at 12 decimals, coherence at 9.
    """
    fs = float(sf.fs)
    two = sf.df.filter(F.col("channel").isin([int(ch_a), int(ch_b)]))

    schema = (
        "recording_id string, freq double, csd_re double, csd_im double, "
        "coherence double, nsegs long"
    )

    def _coh(pdf: pd.DataFrame) -> pd.DataFrame:
        xa = pdf[pdf["channel"] == ch_a].sort_values("t")["v"].to_numpy()
        xb = pdf[pdf["channel"] == ch_b].sort_values("t")["v"].to_numpy()
        bins, s_cre, s_cim, s_pa, s_pb, m = kernels.cross_spectra_int(
            xa, xb, nfft, overlap, window, detrend
        )
        win = kernels.get_window(window, nfft)
        scale = fs * float(np.sum(win**2))
        csd_re, csd_im, coh = [], [], []
        for cre, cim, pa, pb in zip(s_cre, s_cim, s_pa, s_pb):
            if m:
                # division order mirrors the oracle SQL exactly:
                # ((sum / 1e12) / m) / scale
                csd_re.append(round(float(cre) / 1e12 / m / scale, 12))
                csd_im.append(round(float(cim) / 1e12 / m / scale, 12))
            else:
                csd_re.append(0.0)
                csd_im.append(0.0)
            den = pa * pb  # exact Python ints: order-free
            num = cre * cre + cim * cim
            coh.append(round(float(num) / float(den), 9) if den > 0 else 0.0)
        return pd.DataFrame(
            {
                "recording_id": pdf["recording_id"].iloc[0],
                "freq": np.asarray(bins, dtype=float) * fs / nfft,
                "csd_re": csd_re,
                "csd_im": csd_im,
                "coherence": coh,
                "nsegs": m,
            }
        )

    return two.groupBy("recording_id").applyInPandas(_coh, schema)


def band_power(
    psd: DataFrame, lo: float, hi: float, freq_step: float
) -> DataFrame:
    """Simpson's-rule band power per channel, as a weighted aggregation
    (reference: spectra/metrics.py:25-86).

    Weight per bin k (k = bin index within [lo, hi], n bins):
    Simpson coefficients 1,4,2,...,4,1 × h/3 (even tail -> trapezoid),
    generated as a CASE expression — stays in codegen, no UDF.
    """
    in_band = psd.filter((F.col("freq") >= lo) & (F.col("freq") <= hi))
    # bin index within band and band size per channel
    k = F.round((F.col("freq") - F.lit(lo)) / F.lit(freq_step)).cast("long")
    nb = F.round((F.lit(hi) - F.lit(lo)) / F.lit(freq_step)).cast("long") + 1
    h3 = F.lit(freq_step / 3.0)
    h2 = F.lit(freq_step / 2.0)
    n = nb
    m = F.when(n % 2 == 1, n).otherwise(n - 1)  # odd prefix length
    w_simpson = (
        F.when((k == 0) | (k == m - 1), h3)
        .when((k < m - 1) & (k % 2 == 1), 4 * h3)
        .when((k < m - 1), 2 * h3)
        .otherwise(F.lit(0.0))
    )
    w_trap = F.when((n % 2 == 0) & ((k == n - 2) | (k == n - 1)), h2).otherwise(F.lit(0.0))
    return (
        in_band.withColumn("_w", w_simpson + w_trap)
        .groupBy("recording_id", "channel")
        .agg(F.sum(F.col("_w") * F.col("psd")).alias("power"))
    )


def power_norm(psd: DataFrame) -> DataFrame:
    """PSD normalized by total power per channel
    (reference: spectra/metrics.py:89-139) — windowed divide."""
    from pyspark.sql import Window

    w = Window.partitionBy("recording_id", "channel")
    return psd.withColumn("psd_norm", F.col("psd") / F.sum("psd").over(w))


def confidence_interval(psd: DataFrame, alpha: float = 0.05) -> DataFrame:
    """Chi-squared CI around the PSD given the per-row segment count
    (reference: spectra/metrics.py:142-183).  chi2.ppf has no closed form;
    we use the Wilson-Hilferty cube approximation driver-free, column-only,
    accurate to ~1e-3 for dof >= 4."""
    dof = 2 * F.col("nsegs")

    def chi2_ppf(p, k):
        # Wilson-Hilferty: k * (1 - 2/(9k) + z_p*sqrt(2/(9k)))^3
        from math import sqrt

        z = _norm_ppf(p)
        return k * (1 - 2 / (9 * k) + F.lit(z) * F.sqrt(2 / (9 * k))) ** 3

    upper = dof * F.col("psd") / chi2_ppf(alpha / 2, dof)
    lower = dof * F.col("psd") / chi2_ppf(1 - alpha / 2, dof)
    return psd.withColumn("ci_lower", lower).withColumn("ci_upper", upper)


def _norm_ppf(p: float) -> float:
    """Acklam's rational approximation of the standard normal quantile
    (driver-side scalar, public-domain algorithm)."""
    import math

    a = [-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00]
    b = [-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00]
    d = [7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00]
    plow = 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if p > 1 - plow:
        return -_norm_ppf(1 - p)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
    )

"""FIR filter application (the reference's oaconvolve path).

reference: core/numerical.py:158-298 (overlap-add), filtering/bases.py:
363-421 (FIR.__call__).  Design happens driver-side (dsp/design.py); the
taps array is tiny and ships inside the plan (literals / closure), i.e.
broadcast.

Two physical strategies, identical results (tested, incl. partition
invariance):

1. ``apply_fir_sql`` — small-tap fast path: y[t] = Σ_k h[k]·x[t-k+c]
   written as a sum of lag/lead terms over a per-channel window.  Stays
   entirely in whole-stage codegen — no Python, no Arrow.  One shuffle
   (the window sort); cost grows with numtaps so it's for taps ≲ 128.

2. ``apply_fir_blocks`` — block+halo ``mapInPandas`` running FFT
   convolution per block (dsp/kernels.convolve_full) — the overlap-add
   equivalent where the halo replaces the carried overlap
   (reference: core/numerical.py:243-251).

Boundary semantics = numpy 'same'/'full'/'valid' zero-padded convolution,
matching the reference's mode trim rules (core/numerical.py:76-155).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openseize_spark.dsp import kernels
from openseize_spark.dsp.design import FirSpec
from openseize_spark.functions.scalar import envelope, phase_wrapped
from openseize_spark.operators import blocks as B
from openseize_spark.signal import SignalFrame


def apply_fir_sql(sf: SignalFrame, spec: FirSpec | np.ndarray, mode: str = "same") -> SignalFrame:
    """Sliding dot product via lag/lead — codegen'd, for small taps."""
    taps = spec.taps if isinstance(spec, FirSpec) else np.asarray(spec, dtype=float)
    L = len(taps)
    c = (L - 1) // 2  # 'same' alignment: y[t] = sum_k h[k] x[t - k + c]
    df = sf.df.withColumn("v", _window_sum([(k - c, taps[k]) for k in range(L)]))
    return _trim_mode(sf.with_df(df), L, mode)


def _window_sum(pairs):
    """sum of tap * x[t - shift] over (shift, tap) pairs, in order, as
    lag/lead terms over a per-channel window (zero past the edges)."""
    w = Window.partitionBy("recording_id", "channel").orderBy("t")
    acc = None
    for shift, tap in pairs:
        col = F.col("v") if shift == 0 else F.lag("v", shift).over(w) if shift > 0 else F.lead(
            "v", -shift
        ).over(w)
        term = F.coalesce(col, F.lit(0.0)) * F.lit(float(tap))
        acc = term if acc is None else acc + term
    return acc


def apply_fir_blocks(
    sf: SignalFrame,
    spec: FirSpec | np.ndarray,
    mode: str = "same",
    block_size: int = 65536,
) -> SignalFrame:
    """Block + halo FFT convolution — the large-tap / 100-TB path."""
    taps = spec.taps if isinstance(spec, FirSpec) else np.asarray(spec, dtype=float)
    taps = np.asarray(taps, dtype=np.float64)
    L = len(taps)
    c = (L - 1) // 2
    halo_left = L - 1 - c
    halo_right = c

    bdf = B.halo_blocks(sf.df, block_size, halo_left, halo_right)

    def _conv(row):
        # zero-pad missing halo at stream edges => 'same' conv semantics
        x = np.concatenate(
            [np.zeros(halo_left - len(row.left)), row.left, row.vs, row.right,
             np.zeros(halo_right - len(row.right))]
        )
        y = kernels.convolve_full(x, taps)
        # y_t = sum_k h[k] x[t-k+c] with left context L-1-c: the full-conv
        # index of block position i is i + (L-1-c) + c = i + L-1
        return {"t0": [row.t0], "vs": [y[L - 1 : L - 1 + len(row.vs)]]}

    out = B.map_blocks(bdf, _conv, B.SAMPLE_BLOCKS)
    return _trim_mode(sf.with_df(B.from_blocks(out)), L, mode)


def _trim_mode(sf: SignalFrame, L: int, mode: str) -> SignalFrame:
    """'same' is the native alignment; 'valid' trims (L-1)/2-ish edges
    (reference trim rules: core/numerical.py:76-116).  'full' would extend
    beyond the stream; supported via pad-then-filter upstream."""
    if mode == "same":
        return sf
    if mode == "valid":
        c = (L - 1) // 2
        lo, hi = c, L - 1 - c
        n = sf.df.groupBy("recording_id", "channel").agg(F.max("t").alias("_mx"))
        df = (
            sf.df.join(n, on=["recording_id", "channel"])
            .filter((F.col("t") >= (L - 1) - c) & (F.col("t") <= F.col("_mx") - c))
            .withColumn("t", (F.col("t") - ((L - 1) - c)).cast("bigint"))
            .drop("_mx")
        )
        return sf.with_df(df)
    raise ValueError(f"mode {mode!r} not supported (use pad + same for full)")


def hilbert_analytic(sf: SignalFrame, spec: FirSpec) -> DataFrame:
    """Analytic signal via FIR Hilbert transformer: re = x, im = hilbert(x)
    (reference: filtering/special.py:16-133; complex assembly
    experimental/coupling/transforms.py:186-192).

    Returns (recording_id, channel, t, re, im) — complex as a struct-free
    pair since Spark has no complex type.  For the SQL path, re and im are
    computed in ONE window projection (no join, one shuffle total).
    """
    taps = spec.taps
    L = len(taps)
    if L <= 192:
        c = (L - 1) // 2
        # type-III Hilbert: half the taps are 0
        im = _window_sum([(k - c, taps[k]) for k in range(L) if abs(taps[k]) != 0.0])
        return sf.df.select(
            "recording_id", "channel", "t", F.col("v").alias("re"), im.alias("im")
        )
    im_sf = apply_fir_blocks(sf, spec, mode="same")
    imdf = im_sf.df.select("recording_id", "channel", "t", F.col("v").alias("im"))
    return (
        sf.df.select("recording_id", "channel", "t", F.col("v").alias("re"))
        .join(imdf, on=["recording_id", "channel", "t"], how="inner")
    )


def envelope_phase(analytic: DataFrame) -> DataFrame:
    """Amplitude + phase (wrapped to [0, 2π)) from (re, im) — pure builtin
    math (reference: experimental/coupling/transforms.py:56-106)."""
    re, im = F.col("re"), F.col("im")
    return analytic.withColumn("amplitude", envelope(re, im)).withColumn(
        "phase", phase_wrapped(re, im)
    )

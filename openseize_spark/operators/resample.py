"""Polyphase rational resampling (down/up/resample by L/M).

reference: resampling/resampling.py:95-311 (public API),
core/numerical.py:523-632 (halo'd polyphase kernel).

Spark-native design: the reference re-reads every chunk three times to
build halos (prior/current/next iterators — 3× read amplification, noted
in BASELINE.md).  Here blocks get their halos from one lag + one lead
window function, and the channel length from one more window aggregate,
all over block rows that share one (recording_id, channel) exchange
(``blocks.halo_blocks``): **1× read, one shuffle**, strictly better than
the reference's access pattern.

Alignment invariants that make block-local outputs globally exact:
- block_size % M == 0 (reference's chunksize÷M rounding,
  core/numerical.py:585-587), so every block's first output sample index
  is exactly t0·L/M;
- halo = ceil((len(h)-1)/M)·M samples each side (reference's overhang,
  core/numerical.py:595-605); stream edges zero-pad, matching
  whole-signal convolution.

Output sample t' of the full-signal polyphase result y[j] =
(x↑L * h·L)[half + j·M] is computed bit-exactly per block (tested against
the whole-array kernel across partition layouts).
"""

from __future__ import annotations

from math import gcd

import numpy as np

from openseize_spark.dsp import kernels
from openseize_spark.operators import blocks as B
from openseize_spark.signal import SignalFrame


def resample(
    sf: SignalFrame,
    L: int,
    M: int,
    h: np.ndarray | None = None,
    block_size: int = 65536,
) -> SignalFrame:
    """Rational L/M polyphase resample of every channel.

    gcd-reduction and no-op passthrough mirror the reference fast paths
    (resampling/resampling.py:148-150, 294-301).
    """
    g = gcd(L, M)
    L, M = L // g, M // g
    if L == 1 and M == 1:
        return sf
    if h is None:
        h = kernels.default_resample_filter(L, M)
    h = np.asarray(h, dtype=np.float64)
    half = (len(h) - 1) // 2

    # block aligned to M; halo = overhang rounded to multiple of M
    block = block_size - block_size % M
    if block <= 0:
        block = M
    halo = int(np.ceil((len(h) - 1) / M)) * M
    # halo must also cover the filter group delay in upsampled coords
    halo = max(halo, int(np.ceil((half / L + 1) / M)) * M)

    bdf = B.halo_blocks(sf.df, block, halo, halo)
    hL = h * L

    def _resample(row):
        a = int(row.t0)  # block start (multiple of `block`, so of M)
        b = a + len(row.vs)  # block end (exclusive)
        # global output range for this block
        n_out = -(-int(row.n) * L // M)  # ceil
        j_start = a * L // M
        j_end = min(-(-b * L // M), n_out)
        if j_end <= j_start:
            return None
        x = np.concatenate(
            [np.zeros(halo - len(row.left)), row.left, row.vs, row.right,
             np.zeros(halo - len(row.right))]
        )
        # strided polyphase (no L*x zero-stuffed array): x covers
        # global samples [a - halo, ...) after the left pad
        vals = kernels.polyphase_apply(
            hL, x, L, M, j_start, j_end, x_origin=a - halo, half=half
        )
        return {"t0": [j_start], "vs": [vals]}

    out = B.map_blocks(bdf, _resample, B.SAMPLE_BLOCKS)
    return sf.with_df(B.from_blocks(out), fs=sf.fs * L / M)


def downsample(sf: SignalFrame, M: int, **kw) -> SignalFrame:
    """reference: resampling/resampling.py:95-161."""
    return resample(sf, 1, M, **kw)


def upsample(sf: SignalFrame, L: int, **kw) -> SignalFrame:
    """reference: resampling/resampling.py:164-230."""
    return resample(sf, L, 1, **kw)

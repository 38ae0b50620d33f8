"""IIR filter application — the inherently-sequential operator.

reference: core/numerical.py:301-411 (sosfilt / sosfiltfilt with carried
state), filtering/bases.py:153-213 (IIR.__call__, dephase flag).

Causal IIR is a stateful scan along t: it cannot be expressed as a
shuffle-parallel DataFrame op without changing semantics.  Strategy
(SURVEY §7 "genuinely hard" #1):

- parallelism across (recording_id, channel) groups — the same axis the
  reference parallelizes over;
- within a group, ``applyInPandas`` runs the numpy DF2T kernel over the
  whole channel (zero-phase filtfilt *requires* whole-series access for
  the reverse pass, which is why the reference needs its one-chunk-
  lookahead machinery, core/numerical.py:384-411);
- for channels longer than executor memory, ``sosfilt_blocks`` runs the
  reference's carried-zi recurrence as a parallel-in-time state scan over
  blocks; state carry is exact, so block boundaries do not change the
  result (tested in tests/test_partition_invariance.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from openseize_spark.dsp import kernels
from openseize_spark.dsp.design import SosSpec
from openseize_spark.operators import blocks as B
from openseize_spark.signal import SignalFrame

_SCHEMA = "recording_id string, channel int, t long, v double"


def _sos(spec: SosSpec | np.ndarray) -> np.ndarray:
    return spec.sos if isinstance(spec, SosSpec) else np.asarray(spec, dtype=float)


def _per_channel(sf: SignalFrame, run) -> SignalFrame:
    """``run(x) -> y`` over each whole channel, sorted by t, as one
    ``applyInPandas`` group per (recording_id, channel)."""

    def _f(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t")
        return pdf.assign(v=run(pdf["v"].to_numpy()))

    return sf.with_df(sf.df.groupBy("recording_id", "channel").applyInPandas(_f, _SCHEMA))


def sosfilt(sf: SignalFrame, spec: SosSpec | np.ndarray) -> SignalFrame:
    """Causal second-order-section filter per channel
    (reference: core/numerical.py:301-335)."""
    sos = _sos(spec)
    return _per_channel(sf, lambda x: kernels.sosfilt(sos, x)[0])


def sosfiltfilt(sf: SignalFrame, spec: SosSpec | np.ndarray) -> SignalFrame:
    """Zero-phase forward-backward filter, padtype=None semantics — the
    only mode the reference reproduces exactly when chunked
    (reference: core/numerical.py:338-411)."""
    sos = _sos(spec)
    return _per_channel(sf, lambda x: kernels.sosfiltfilt(sos, x))


def lfilter(sf: SignalFrame, b: np.ndarray, a: np.ndarray) -> SignalFrame:
    """Causal transfer-function filter per channel
    (reference: core/numerical.py:414-446)."""
    return _per_channel(sf, lambda x: kernels.lfilter(b, a, x)[0])


def filtfilt(sf: SignalFrame, b: np.ndarray, a: np.ndarray) -> SignalFrame:
    """Zero-phase ba-form filter, padtype=None semantics
    (reference: core/numerical.py:449-520)."""
    return _per_channel(sf, lambda x: kernels.filtfilt(b, a, x))


def sosfilt_blocks(
    sf: SignalFrame,
    spec: SosSpec | np.ndarray,
    block_size: int = 65536,
    zi_unit: np.ndarray | None = None,
) -> SignalFrame:
    """Parallel-in-time causal IIR — the 100-TB path for channels too long
    to filter as one pandas group.

    The DF2T recurrence is linear in (state, input), so over an n-sample
    block z_out = T^n @ z_in + c, where c is the block's zero-state final
    state and T the one-sample zero-input transition (``_state_transition``).
    Three stages:

    1. map (parallel over blocks): zero-state filter, keep only the final
       state c per block — tiny (nsec*2 doubles) rows;
    2. per-channel scan over the c rows (applyInPandas on ~n/block_size
       rows, microseconds each): z_in(b) via the affine recurrence —
       the only sequential step, O(#blocks), data volume ~bytes/block;
    3. map (parallel over blocks): re-filter each block seeded with its
       exact incoming state z_in(b).

    Wall-clock becomes O(n / #executors) instead of O(n) per channel; the
    price is 2x kernel compute.  Superposition in float introduces
    ~1e-15-relative state error that decays with the filter's impulse
    response (tested vs the whole-array kernel across block sizes).

    reference: core/numerical.py:301-335 carries zi sequentially chunk to
    chunk; this distributes that same state carry as an associative scan.

    ``zi_unit`` (shape (nsec, 2)): optional per-unit initial conditions —
    the channel's starting state is zi_unit * first_sample (the
    Gustafsson-style convention kernels.sosfiltfilt uses), enabling the
    zero-phase two-pass variant ``sosfiltfilt_blocks``.
    """
    sos = _sos(spec)
    ns = sos.shape[0]

    def filt(x, zflat):
        z = None if zflat is None else np.asarray(zflat, dtype=np.float64).reshape(ns, 2)
        y, zf = kernels.sosfilt(sos, x, z)
        return y, zf.ravel()

    return _blocks_state_scan(sf, block_size, filt, 2 * ns, zi_unit)


def _state_transition(filt, d: int) -> np.ndarray:
    """One-sample zero-input transition matrix for any linear filter given
    as filt(x, z_flat) -> (y, z_flat'), probed from unit basis states."""
    T = np.empty((d, d))
    zero = np.zeros(1)
    for j in range(d):
        e = np.zeros(d)
        e[j] = 1.0
        _, zf = filt(zero, e)
        T[:, j] = np.asarray(zf, dtype=np.float64).ravel()
    return T


def _blocks_state_scan(
    sf: SignalFrame,
    block_size: int,
    filt,
    d: int,
    zi_unit: np.ndarray | None,
) -> SignalFrame:
    """Shared 3-stage parallel-in-time engine (see sosfilt_blocks):
    zero-state filter per block -> per-channel affine state scan ->
    seeded re-filter.  ``filt(x, z_flat|None) -> (y, z_flat')`` must be
    linear in (state, input); ``d`` is the flat state dimension.

    The block table feeds TWO consumers — the state pass and the seeded
    re-filter join — and each evaluates it: the executed plan holds no
    ReusedExchange for the to_blocks shuffle.  A Python DataSource scan
    (the edf source) is never exchange-reused, and over a parquet scan
    the join's inferred isnotnull filter makes the two subtrees differ,
    so the input is read twice.  (A localCheckpoint of the block table
    measures worse on the registry: the join then re-shuffles the
    ExistingRDD side — 6.3 s vs 3.1 s on sosfilt_blocks_full at sf0.1.)"""
    T = _state_transition(filt, d)
    zi_flat = None if zi_unit is None else np.asarray(zi_unit, dtype=np.float64).ravel()
    bdf = B.to_blocks(sf.df, block_size)

    def _zero_state(row):
        x = row.vs
        _, zf = filt(x, None)
        return {
            "block_id": [row.block_id],
            "t0": [row.t0],
            "n": [len(x)],
            "c": [np.asarray(zf, dtype=np.float64).ravel()],
            "x0": [float(x[0]) if len(x) else 0.0],
        }

    states = B.map_blocks(
        bdf,
        _zero_state,
        "recording_id string, channel int, block_id long, t0 long, n int, "
        "c array<double>, x0 double",
    )

    scan_schema = "recording_id string, channel int, block_id long, zin array<double>"

    def _scan(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t0")
        z = np.zeros(d)
        if zi_flat is not None and len(pdf):
            z = zi_flat * float(pdf["x0"].iloc[0])
        zins, apow = [], {}
        for r in pdf.itertuples(index=False):
            zins.append(z.copy())
            n = int(r.n)
            A = apow.get(n)
            if A is None:
                A = np.linalg.matrix_power(T, n)
                apow[n] = A
            z = A @ z + np.asarray(r.c, dtype=np.float64)
        return pd.DataFrame(
            {
                "recording_id": pdf["recording_id"].to_numpy(),
                "channel": pdf["channel"].to_numpy(),
                "block_id": pdf["block_id"].to_numpy(),
                "zin": zins,
            }
        )

    zin = states.groupBy("recording_id", "channel").applyInPandas(_scan, scan_schema)

    # zin is one tiny row per block (d+3 values vs block_size samples),
    # so it is ALWAYS the side to build from: the shuffle_hash hint pins
    # the hash build on zin — never a broadcast or sort of the block
    # arrays — and AQE may still upgrade the tiny zin side to a runtime
    # broadcast.  At block counts where zin itself is large (the 100-TB
    # path) the shuffled-hash join moves only the zin rows plus one
    # pass of the block table.
    j = bdf.join(
        zin.hint("shuffle_hash"), on=["recording_id", "channel", "block_id"]
    )

    def _seeded(row):
        y, _ = filt(row.vs, np.asarray(row.zin, dtype=np.float64))
        return {"t0": [row.t0], "vs": [y]}

    out = B.map_blocks(j, _seeded, B.SAMPLE_BLOCKS)
    return sf.with_df(B.from_blocks(out))


def lfilter_blocks(
    sf: SignalFrame,
    b: np.ndarray,
    a: np.ndarray,
    block_size: int = 65536,
    zi_unit: np.ndarray | None = None,
) -> SignalFrame:
    """Parallel-in-time causal ba-form filter (lfilter analog of
    sosfilt_blocks; reference: core/numerical.py:414-446)."""
    b = np.asarray(b, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)

    def filt(x, zflat):
        return kernels.lfilter(b, a, x, zflat)

    return _blocks_state_scan(sf, block_size, filt, max(len(a), len(b)) - 1, zi_unit)


def filtfilt_blocks(
    sf: SignalFrame, b: np.ndarray, a: np.ndarray, block_size: int = 65536
) -> SignalFrame:
    """Zero-phase ba-form filter, parallel in time (forward + reversed
    lfilter_blocks passes, lfilter_zi * first-sample seeding — the ba
    analog of sosfiltfilt_blocks)."""
    zi = kernels.lfilter_zi(b, a)
    return _zero_phase(sf, lambda s: lfilter_blocks(s, b, a, block_size, zi_unit=zi))


def sosfiltfilt_blocks(
    sf: SignalFrame, spec: SosSpec | np.ndarray, block_size: int = 65536
) -> SignalFrame:
    """Zero-phase forward-backward IIR, parallel in time.

    The reference needs one-chunk-lookahead machinery to derive reverse
    initial conditions when chunked (core/numerical.py:384-411); here the
    backward pass is simply ``sosfilt_blocks`` on the time-reversed
    forward output (t -> n-1-t via a broadcast join of channel lengths),
    with the same Gustafsson-style zi*first_sample seeding the scan —
    the reversed stream's first sample is the forward output's last, so
    the state scan picks it up with no lookahead.  Four parallel passes
    total; per-channel wall-clock O(n/#executors).
    """
    sos = _sos(spec)
    zi = kernels.sosfilt_zi(sos)
    return _zero_phase(sf, lambda s: sosfilt_blocks(s, sos, block_size, zi_unit=zi))


def _zero_phase(sf: SignalFrame, one_pass) -> SignalFrame:
    """``one_pass`` forward, then over the time-reversed forward output,
    reversed back: the zero-phase body of both ``*filtfilt_blocks``."""
    span = _channel_span(sf.df)
    # materialize the forward output once: the backward state-scan
    # consumes its input twice (zero-state pass + seeded-refilter join),
    # and without a boundary each consumer re-inlines the ENTIRE forward
    # pipeline — the round-14 plan sweep counted 14 source scans / 29
    # exchanges for this query vs 4/8 for one pass (multiplicative
    # re-inlining through composition).  Spark's ContextCleaner drops
    # the checkpoint's blocks once the RDD is unreferenced.
    fwd_df = one_pass(sf).df.localCheckpoint(eager=False)
    bwd = one_pass(sf.with_df(_reverse_time(fwd_df, span)))
    return sf.with_df(_reverse_time(bwd.df, span))


def _channel_span(df):
    """Per-channel (min_t + max_t) aggregated from ``df`` — pass this to
    ``_reverse_time`` when reversing a *derived* signal whose t-domain is
    unchanged from ``df`` (filtering preserves timestamps).  Computing the
    span from the cheap upstream relation instead of the filter output
    matters: a filter pass ends in mapInPandas with no exchange at its
    output, so an aggregation over it re-executes the entire seeded
    re-filter a second time just to read min/max t."""
    return df.groupBy("recording_id", "channel").agg(
        (F.min("t") + F.max("t")).cast("bigint").alias("_tsum")
    )


def _reverse_time(df, span=None):
    """t -> (min_t + max_t) - t per channel via a broadcast join of the
    per-channel span.  Span-based (not n-1-t) so a signal whose t does not
    start at 0 reverses in place instead of silently shifting to 0 —
    sources are expected to keep t dense-from-0, but this degrades safely
    if one does not.  ``span``: optional precomputed ``_channel_span`` of
    a t-domain-equal relation (see there for why callers should pass it)."""
    if span is None:
        span = _channel_span(df)
    return (
        df.join(F.broadcast(span), on=["recording_id", "channel"])
        .select(
            "recording_id",
            "channel",
            (F.col("_tsum") - F.col("t")).cast("bigint").alias("t"),
            "v",
        )
    )


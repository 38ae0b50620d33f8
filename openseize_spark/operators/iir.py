"""IIR filter application — the inherently-sequential operator.

reference: core/numerical.py:301-411 (sosfilt / sosfiltfilt with carried
state), filtering/bases.py:153-213 (IIR.__call__, dephase flag).

Causal IIR is a stateful scan along t: it cannot be expressed as a
shuffle-parallel DataFrame op without changing semantics.  Every filter
here runs one engine, ``_carried``, the Spark form of the reference's
chunk-to-chunk ``zi`` hand-over (paper/paper.md:59-84):

- the long rows are hashed by (recording_id, channel) once and sorted by
  (recording_id, channel, t) within each partition — parallelism is
  across channels, the axis the reference parallelizes over;
- one ``mapInPandas`` generator carries the DF2T state across rows and
  Arrow batches, resets it where the channel changes, and calls the
  kernel once per channel run within a batch.  The Arrow batch plays the
  reference's ``chunksize``: memory per call is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows whatever the
  channel length;
- zero-phase filtering runs the same generator a second time over the
  forward output, sorted by t descending inside the same partitions: no
  second shuffle, no time-reversal join, and no chunk lookahead
  (core/numerical.py:384-411) — the reversed stream's first sample is the
  forward output's last, which seeds the backward state directly.

The carry is exact, so every output equals the whole-array kernel bit for
bit for every batch layout (tests/test_partition_invariance.py),
and each output row keeps its own ``t``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from openseize_spark.dsp import kernels
from openseize_spark.dsp.design import SosSpec
from openseize_spark.operators.blocks import KEYS
from openseize_spark.signal import SignalFrame

# built in Python: mapInPandas parses a DDL string through the JVM on every call
_SCHEMA = (
    StructType()
    .add("recording_id", "string")
    .add("channel", "integer")
    .add("t", "long")
    .add("v", "double")
)


def _sos(spec: SosSpec | np.ndarray) -> np.ndarray:
    return spec.sos if isinstance(spec, SosSpec) else np.asarray(spec, dtype=float)


def sosfilt(sf: SignalFrame, spec: SosSpec | np.ndarray) -> SignalFrame:
    """Causal second-order-section filter per channel
    (reference: core/numerical.py:301-335)."""
    sos = _sos(spec)
    return _filter(sf, lambda x, z: kernels.sosfilt(sos, x, z), None)


def sosfilt_blocks(sf: SignalFrame, spec: SosSpec | np.ndarray, block_size=None) -> SignalFrame:
    # perfbench's edf_psd pipeline calls, and names its layer after, this
    # name with a block_size it no longer needs; it goes when the benchmark
    # is next changed
    return sosfilt(sf, spec)


def sosfiltfilt(sf: SignalFrame, spec: SosSpec | np.ndarray) -> SignalFrame:
    """Zero-phase forward-backward filter, padtype=None semantics — the
    only mode the reference reproduces exactly when chunked
    (reference: core/numerical.py:338-411).  Each pass starts from
    ``sosfilt_zi`` times its first sample, as ``kernels.sosfiltfilt``."""
    sos = _sos(spec)
    return _filter(sf, lambda x, z: kernels.sosfilt(sos, x, z), kernels.sosfilt_zi(sos))


def lfilter(sf: SignalFrame, b: np.ndarray, a: np.ndarray) -> SignalFrame:
    """Causal transfer-function filter per channel
    (reference: core/numerical.py:414-446)."""
    return _filter(sf, lambda x, z: kernels.lfilter(b, a, x, z), None)


def filtfilt(sf: SignalFrame, b: np.ndarray, a: np.ndarray) -> SignalFrame:
    """Zero-phase ba-form filter, padtype=None semantics
    (reference: core/numerical.py:449-520)."""
    return _filter(sf, lambda x, z: kernels.lfilter(b, a, x, z), kernels.lfilter_zi(b, a))


def _filter(sf: SignalFrame, filt, zi_unit) -> SignalFrame:
    """One causal pass, or a zero-phase pair when ``zi_unit`` is given
    (only the zero-phase filters seed their state from the signal)."""
    df = _carried(sf.df.repartition(*KEYS), filt, zi_unit, descending=False)
    if zi_unit is not None:
        df = _carried(df, filt, zi_unit, descending=True)
    return sf.with_df(df)


def _carried(df, filt, zi_unit, descending: bool):
    """``filt(x, z|None) -> (y, z')`` over each channel of ``df`` in t
    order (descending: reversed), with the state carried from each Arrow
    batch to the next.  A channel starts from zero state, or from
    ``zi_unit * x[0]`` when ``zi_unit`` is given.

    ``df`` must already hold each channel in one partition; the sort is
    within partitions, so a second pass over a first pass's output adds
    no exchange.  The carry lives inside the generator, so every task has
    its own.

    Trade-off: a channel is filtered by one task, so its wall time is
    O(n), and parallelism is across channels only.  A parallel-in-time
    affine state scan would spread one channel over the executors, but it
    runs the kernel twice per sample and reads its input twice.
    """
    t = F.col("t").desc() if descending else F.col("t")
    ordered = df.sortWithinPartitions(*KEYS, t)

    def _carry(batches):
        key = z = None
        for pdf in batches:
            rid = pdf["recording_id"].to_numpy()
            ch = pdf["channel"].to_numpy()
            x = pdf["v"].to_numpy()
            y = np.empty_like(x)
            # a run ends where the channel changes
            cuts = np.flatnonzero((rid[1:] != rid[:-1]) | (ch[1:] != ch[:-1])) + 1
            for s, e in zip(np.r_[0, cuts], np.r_[cuts, len(x)]):
                if (rid[s], ch[s]) != key:
                    key = (rid[s], ch[s])
                    z = None if zi_unit is None else zi_unit * x[s]
                y[s:e], z = filt(x[s:e], z)
            pdf["v"] = y
            yield pdf

    return ordered.mapInPandas(_carry, _SCHEMA)

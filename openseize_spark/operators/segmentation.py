"""Sliding/tumbling segmentation — the heart of the spectral estimators.

The reference's `_spectra_estimatives` FIFO-caches nfft samples and emits
one segment every `stride = nfft - overlap*nfft` samples, dropping the
trailing partial segment (reference: core/numerical.py:799-849, count
formula :940-943).

Spark-native formulation: tumbling segments (overlap=0) are
``seg = t div nfft`` with no row amplification; sliding SUM aggregates
difference one running sum at stride boundaries (``sliding_agg_prefix``).
The spectral kernels form overlapping segments inside Arrow batches
(the block path in operators/spectral.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openseize_spark.signal import SignalFrame


def segment_tumbling(sf: SignalFrame, nfft: int) -> DataFrame:
    """Non-overlapping segments: (recording_id, channel, seg, offset, v).
    Partial trailing segment dropped via a complete-count semi-join-free
    window trick: max offset must equal nfft-1 — enforced by the caller
    aggregating with HAVING count = nfft (see welch)."""
    return sf.df.select(
        "recording_id",
        "channel",
        F.expr(f"t div {nfft}").alias("seg"),
        (F.col("t") % nfft).alias("offset"),
        "v",
    )


def sliding_agg_prefix(
    sf: SignalFrame, nfft: int, stride: int, value=None, agg_name: str = "energy"
) -> DataFrame:
    """Sliding-window SUM aggregate as a prefix-sum difference — the
    shuffle-lean physical plan for ``sum over segment`` queries.

    Instead of the membership explode (row amplification nfft/stride) +
    groupBy shuffle, this computes one running cumulative sum per channel
    and differences it at stride boundaries:

        energy(seg) = cum[seg*stride + nfft - 1] - cum[seg*stride - 1]
                    = lead(cum, nfft-1) - cum + value        (at row t = seg*stride)

    One window (one shuffle keyed by channel), zero row amplification;
    incomplete trailing segments fall out via the NULL lead.  Equals the
    explode+groupBy plan exactly when `value` sums without cancellation
    error (the driver signal's v*v are dyadic rationals, so sums are
    exact in any order); for general data prefer a per-segment sum,
    which has no O(n)-magnitude intermediate.

    reference: the welch segment-count/stride semantics
    (core/numerical.py:799-849); this is the sum-aggregate specialization.
    """
    from pyspark.sql import Window

    value = F.col("v") * F.col("v") if value is None else value
    w = Window.partitionBy("recording_id", "channel").orderBy("t")
    cum = F.sum(value).over(w.rowsBetween(Window.unboundedPreceding, 0))
    df = (
        sf.df.withColumn("_val", value)
        .withColumn("_cum", cum)
        .withColumn("_end", F.lead("_cum", nfft - 1).over(w))
        .filter((F.col("t") % stride == 0) & F.col("_end").isNotNull())
        .select(
            "recording_id",
            "channel",
            F.expr(f"t div {stride}").alias("seg"),
            (F.col("_end") - F.col("_cum") + F.col("_val")).alias(agg_name),
        )
    )
    return df

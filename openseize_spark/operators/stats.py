"""Streaming-identity aggregations: mean / std / standardize.

The reference computes these as single-pass partial aggregations over
chunks (weighted running sums, E[x^2]-E[x]^2, reference:
core/protools.py:500-671).  Catalyst's partial+final hash aggregation is
the same algorithm, executed map-side first — so these are plain groupBy
aggs; NaN-awareness maps NaN -> null first (`avg`/`stddev` skip nulls,
matching np.nanmean semantics at reference: core/protools.py:526).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openseize_spark.signal import SignalFrame


def _nan_to_null(c):
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def channel_stats(sf: SignalFrame, ignore_nan: bool = True) -> DataFrame:
    """Per-channel mean/std/count (reference: core/protools.py:500-595).
    std is population std via the E[x^2]-E[x]^2 identity the reference
    uses (core/protools.py:587)."""
    v = _nan_to_null(F.col("v")) if ignore_nan else F.col("v")
    return sf.df.groupBy("recording_id", "channel").agg(
        F.avg(v).alias("mean"),
        F.sqrt(F.avg(v * v) - F.avg(v) * F.avg(v)).alias("std"),
        F.count(v).alias("n"),
    )


def standardize(sf: SignalFrame, ignore_nan: bool = True) -> SignalFrame:
    """(x - mean)/std with global per-channel stats broadcast back to the
    samples (reference: core/protools.py:598-671, two-pass with
    precomputed stats).  Implemented with analytic window functions so the
    stats pass and the apply pass share one shuffle."""
    v = _nan_to_null(F.col("v")) if ignore_nan else F.col("v")
    w = Window.partitionBy("recording_id", "channel")
    mean = F.avg(v).over(w)
    std = F.sqrt(F.avg(v * v).over(w) - mean * mean)
    return sf.with_df(
        sf.df.withColumn("v", (F.col("v") - mean) / std)
    )

"""Long-format <-> block-format conversion + halo exchange.

The reference's producer yields ndarray chunks; cross-chunk correctness is
handled by FIFO carries and staggered prev/cur/next iterators
(reference: core/numerical.py:589-632).  The Spark-native equivalent:

1. ``to_blocks`` — groups samples into fixed-size dense blocks per
   (recording_id, channel): ``(recording_id, channel, block_id,
   vs ARRAY<DOUBLE>)``.  Block size is the `chunksize` analog.
2. ``with_halos`` — ``lag``/``lead`` over block_id attach each block's
   left/right neighbor overlap — the distributed halo-exchange idiom,
   replacing the reference's triple-iterator trick with two window
   functions (no re-reading of upstream data).
3. ``map_blocks`` runs a per-block kernel inside ``mapInPandas``
   (Arrow-batched), which trims the halo, and ``from_blocks`` explodes
   back to long format.

``halo_blocks`` composes 1 and 2 for the halo kernels (FIR, resample,
Welch, STFT): the long signal is hashed by (recording_id, channel) once,
and both the block aggregate and the lag/lead window run inside that one
exchange.  It also adds the channel length from a window over the same
block rows, so the input is evaluated once and shuffled once.  Kernel
compute stays embarrassingly parallel over the blocks of each partition.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

KEYS = ("recording_id", "channel")
# the sample blocks ``from_blocks`` explodes: what sample-in, sample-out
# kernels (FIR, IIR, resample) emit through ``map_blocks``
SAMPLE_BLOCKS = "recording_id string, channel int, t0 long, vs array<double>"


def to_blocks(df: DataFrame, block_size: int) -> DataFrame:
    """Group a long signal into dense per-channel blocks.

    Returns (recording_id, channel, block_id BIGINT, t0 BIGINT,
    vs ARRAY<DOUBLE>).  ``t0`` is the first sample index of the block;
    values are sorted by t.
    """
    return (
        df.groupBy(*KEYS, F.expr(f"t div {block_size}").alias("block_id"))
        .agg(
            F.min("t").alias("t0"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("t", "v"))),
                lambda s: s["v"],
            ).alias("vs"),
        )
    )


def with_halos(
    blocks: DataFrame, halo_left: int, halo_right: int, block_size: int
) -> DataFrame:
    """Attach neighbor overlap arrays via lag/lead window functions.

    ``left``/``right`` are empty at stream edges (kernels zero-pad there,
    matching whole-array convolution semantics).

    A halo wider than one block (e.g. a resample filter half-width
    exceeding an M-aligned block, or FIR taps > block_size) chains
    ceil(halo / block_size) lags/leads so the overlap never silently
    truncates mid-stream.
    """
    w = Window.partitionBy(*KEYS).orderBy("block_id")
    empty = F.array().cast("array<double>")

    out = blocks
    if halo_left > 0:
        k = -(-halo_left // block_size)
        arr = F.concat(
            *[F.coalesce(F.lag("vs", i).over(w), empty) for i in range(k, 0, -1)]
        )
        out = out.withColumn(
            "left",
            F.when(F.size(arr) >= halo_left, F.slice(arr, -halo_left, halo_left)).otherwise(arr),
        )
    else:
        out = out.withColumn("left", empty)
    if halo_right > 0:
        k = -(-halo_right // block_size)
        arr = F.concat(
            *[F.coalesce(F.lead("vs", i).over(w), empty) for i in range(1, k + 1)]
        )
        out = out.withColumn("right", F.slice(arr, 1, halo_right))
    else:
        out = out.withColumn("right", empty)
    return out


def from_blocks(blocks: DataFrame) -> DataFrame:
    """Explode (keys, t0, vs) block rows back to long format
    (t = t0 + offset)."""
    return blocks.select(
        *KEYS,
        F.posexplode("vs").alias("_pos", "v"),
        "t0",
    ).select(
        *KEYS,
        (F.col("t0") + F.col("_pos")).cast("bigint").alias("t"),
        "v",
    )


def halo_blocks(
    df: DataFrame, block_size: int, halo_left: int, halo_right: int
) -> DataFrame:
    """``to_blocks`` + ``with_halos`` over a single exchange, plus the
    channel length ``n``.

    Hashing the long signal by the keys first satisfies both the block
    aggregate (keys + block_id) and the halo window (keys), so neither
    adds a shuffle of its own.

    ``n`` is max(t0 + size(vs)) over the channel's blocks.  Under
    SignalFrame's dense-``t`` invariant (no gaps in t per channel) this
    equals max(t) + 1, the `shape` analog (reference:
    core/producer.py:186-189).  It is read off the block rows already in
    hand, so the input is not evaluated a second time.
    """
    out = with_halos(
        to_blocks(df.repartition(*KEYS), block_size), halo_left, halo_right, block_size
    )
    w = (
        Window.partitionBy(*KEYS)
        .orderBy("block_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return out.withColumn("n", F.max(F.col("t0") + F.size("vs")).over(w).cast("bigint"))


def map_blocks(bdf: DataFrame, kernel, schema: str) -> DataFrame:
    """Run ``kernel`` on every block row of ``bdf`` inside ``mapInPandas``.

    ``kernel(row)`` gets one block row (an ``itertuples`` record) and
    returns that block's output columns — a dict from each non-key
    ``schema`` column to an equal-length sequence of values, one per
    output row — or ``None`` to skip the block.  ``recording_id`` and
    ``channel`` are repeated from the input row.  Each Arrow batch
    becomes one pandas frame, whatever the number of blocks in it; a
    batch whose blocks are all skipped yields an empty frame with the
    ``schema`` columns.

    The generated function carries the kernel's name, so the plan reads
    ``MapInPandas <kernel>(...)``.
    """
    fields = StructType.fromDDL(schema).fields
    names = [f.name for f in fields]
    outcols = [c for c in names if c not in KEYS]
    nested = {f.name for f in fields if isinstance(f.dataType, ArrayType)}

    def run(it):
        for pdf in it:
            outs = [kernel(row) for row in pdf.itertuples(index=False)]
            kept = [o for o in outs if o is not None]
            if not kept:
                # object columns: an empty float64 column cannot convert
                # to a string or array Arrow type
                yield pd.DataFrame({c: pd.Series([], dtype=object) for c in names})
                continue
            counts = [0 if o is None else len(o[outcols[0]]) for o in outs]
            cols = {k: np.repeat(pdf[k].to_numpy(), counts) for k in KEYS}
            for c in outcols:
                parts = [o[c] for o in kept]
                cols[c] = list(chain.from_iterable(parts)) if c in nested else np.concatenate(parts)
            yield pd.DataFrame(cols)

    run.__name__ = run.__qualname__ = kernel.__name__
    return bdf.mapInPandas(run, schema)

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
3. kernels run per-block inside ``mapInPandas`` (Arrow-batched), trim the
   halo, and ``from_blocks`` explodes back to long format.

``halo_blocks`` composes 1 and 2 for the halo kernels (FIR, resample,
Welch, STFT): the long signal is hashed by (recording_id, channel) once,
and both the block aggregate and the lag/lead window run inside that one
exchange.  It also adds the channel length from a window over the same
block rows, so the input is evaluated once and shuffled once.  Kernel
compute stays embarrassingly parallel over the blocks of each partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def to_blocks(
    df: DataFrame,
    block_size: int,
    keys: tuple[str, ...] = ("recording_id", "channel"),
    t_col: str = "t",
    v_col: str = "v",
) -> DataFrame:
    """Group a long signal into dense per-channel blocks.

    Returns (keys..., block_id BIGINT, t0 BIGINT, vs ARRAY<DOUBLE>).
    ``t0`` is the first sample index of the block; values are sorted by t.
    """
    kcols = [F.col(k) for k in keys]
    return (
        df.groupBy(*kcols, F.expr(f"{t_col} div {block_size}").alias("block_id"))
        .agg(
            F.min(t_col).alias("t0"),
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col(t_col).alias("t"), F.col(v_col).alias("v")))),
                lambda s: s["v"],
            ).alias("vs"),
        )
    )


def with_halos(
    blocks: DataFrame,
    halo_left: int,
    halo_right: int,
    keys: tuple[str, ...] = ("recording_id", "channel"),
    block_size: int | None = None,
) -> DataFrame:
    """Attach neighbor overlap arrays via lag/lead window functions.

    ``left``/``right`` are empty at stream edges (kernels zero-pad there,
    matching whole-array convolution semantics).

    A halo wider than one block (e.g. a resample filter half-width
    exceeding an M-aligned block, or FIR taps > block_size) chains
    ceil(halo / block_size) lags/leads so the overlap never silently
    truncates mid-stream; pass ``block_size`` to enable that — without it
    a halo is limited to one neighboring block and asserted against
    nothing, so callers with data-dependent halos should always pass it.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy("block_id")
    empty = F.array().cast("array<double>")

    def _reach(halo: int) -> int:
        if block_size is None:
            return 1
        return max(1, -(-halo // block_size))

    out = blocks
    if halo_left > 0:
        k = _reach(halo_left)
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
        k = _reach(halo_right)
        arr = F.concat(
            *[F.coalesce(F.lead("vs", i).over(w), empty) for i in range(1, k + 1)]
        )
        out = out.withColumn("right", F.slice(arr, 1, halo_right))
    else:
        out = out.withColumn("right", empty)
    return out


def from_blocks(
    blocks: DataFrame,
    keys: tuple[str, ...] = ("recording_id", "channel"),
    t0_col: str = "t0",
    vs_col: str = "vs",
) -> DataFrame:
    """Explode block rows back to long format (t = t0 + offset)."""
    return blocks.select(
        *[F.col(k) for k in keys],
        F.posexplode(F.col(vs_col)).alias("_pos", "v"),
        F.col(t0_col),
    ).select(
        *[F.col(k) for k in keys],
        (F.col(t0_col) + F.col("_pos")).cast("bigint").alias("t"),
        F.col("v"),
    )


def halo_blocks(
    df: DataFrame,
    block_size: int,
    halo_left: int,
    halo_right: int,
    keys: tuple[str, ...] = ("recording_id", "channel"),
) -> DataFrame:
    """``to_blocks`` + ``with_halos`` over a single exchange, plus the
    channel length ``n``.

    Hashing the long signal by ``keys`` first satisfies both the block
    aggregate (keys + block_id) and the halo window (keys), so neither
    adds a shuffle of its own.

    ``n`` is max(t0 + size(vs)) over the channel's blocks.  Under
    SignalFrame's dense-``t`` invariant (no gaps in t per channel) this
    equals max(t) + 1, the `shape` analog (reference:
    core/producer.py:186-189).  It is read off the block rows already in
    hand, so the input is not evaluated a second time.
    """
    kcols = [F.col(k) for k in keys]
    out = with_halos(
        to_blocks(df.repartition(*kcols), block_size, keys),
        halo_left,
        halo_right,
        keys,
        block_size=block_size,
    )
    w = (
        Window.partitionBy(*kcols)
        .orderBy("block_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return out.withColumn("n", F.max(F.col("t0") + F.size("vs")).over(w).cast("bigint"))

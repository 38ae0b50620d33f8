"""Fixtures shared by the registry modules: the table readers, the
derived signal, gate staging directories and the stream stager, and the
constants of the synthesized EDF, BPE, Count-Min and BM25 gate inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, SparkSession

from openseize_spark.llm import dedup
from openseize_spark.signal import signal_cte, signal_from_lineitem, SignalFrame


NCH = 4
FS = 100.0


def _signal(spark: SparkSession, sf_dir: str) -> SignalFrame:
    return signal_from_lineitem(spark, sf_dir, nchannels=NCH, fs=FS)


# The IIR gate queries run on the first IIR_SLICE samples per channel so
# their DuckDB oracles (recursive-CTE replays of the exact DF2T recursion,
# plans/oracles.iir_oracle_sql) stay cheap: the recursive term re-executes
# per sample, so oracle cost is O(slice * nch), not O(full signal).
# The full-length variants (*_full) carry the same replay un-sliced.
IIR_SLICE = 2048


def _signal_sliced(spark: SparkSession, sf_dir: str) -> SignalFrame:
    sf = _signal(spark, sf_dir)
    return sf.with_df(sf.df.filter(F.col("t") < IIR_SLICE))


_GATE_ROOTS: dict[str, str] = {}


def _gate_tmp(spark, name: str) -> str:
    """Session-scoped gate staging path under one per-application parent
    directory, removed when the process exits.  The applicationId keeps
    concurrent local sessions (a bench run next to an oracle check on
    one box) from clobbering each other's fixture files mid-write; it is
    stable within a session, so repeated invocations of the same query
    stay idempotent."""
    import atexit
    import os
    import shutil
    import tempfile

    app = spark.sparkContext.applicationId
    root = _GATE_ROOTS.get(app)
    if root is None:
        root = os.path.join(tempfile.gettempdir(), f"os_gate_{app}")
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _GATE_ROOTS[app] = root
    return os.path.join(root, name)


def _stamp_batch_mtimes(d: str, n_batches: int) -> None:
    """Force strictly increasing mtimes across the batch_0..batch_{n-1}
    fixture directories: Spark's FileStreamSource
    orders files by modification timestamp, and on a filesystem with
    coarse mtime granularity three sequentially-written batch files can
    TIE and be picked up out of ts order — diverging any carried-state
    stream from its batch/oracle replay.  One second of separation per
    batch, anchored at each file's own mtime, makes the intended
    processing order deterministic everywhere."""
    import os

    base = None
    for i in range(n_batches):
        bdir = os.path.join(d, f"batch_{i}")
        for root, _dirs, files in os.walk(bdir):
            for fn in files:
                p = os.path.join(root, fn)
                if base is None:
                    base = os.stat(p).st_mtime
                os.utime(p, (base + i, base + i))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _stage_batches(spark, sf_dir: str, prefix: str, e: DataFrame, conds):
    """Stage ``e`` as one single-file micro-batch per filter condition
    (``batch_0``, ``batch_1``, ... under a fresh gate directory), stamp
    their mtimes in that order and return the file stream that reads
    them one file per trigger (maxFilesPerTrigger=1)."""
    import os
    import shutil

    d = _gate_tmp(spark, prefix + os.path.basename(os.path.normpath(sf_dir)))
    shutil.rmtree(d, ignore_errors=True)
    for i, cond in enumerate(conds):
        e.filter(cond).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"batch_{i}")
        )
    _stamp_batch_mtimes(d, len(conds))
    return (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(d, "batch_*"))
    )


def _event_ts(e: DataFrame) -> DataFrame:
    """events.parquet stores TIMESTAMP(NANOS). Depending on the Spark
    build and ``nanosAsLong`` this surfaces as bigint or natively as
    TIMESTAMP_NTZ; normalize both to a microsecond TimestampType (batch
    or stream) so every downstream query sees one schema.  The session
    tz must be UTC so the NTZ->timestamp cast is epoch-identical to
    DuckDB's naive interpretation."""
    dt = dict(e.dtypes)["ts"]
    if dt == "bigint":
        # integer division: `/` goes through DOUBLE, and epoch nanos
        # (~1.7e18) exceed 2^53 — float rounding shifts timestamps by
        # +-1 microsecond (positive epochs, so div == floor here)
        return e.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return e.withColumn("ts", F.col("ts").cast("timestamp"))
    return e


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with ``_event_ts`` applied, read under
    nanosAsLong and a UTC session tz."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


# edf_decode gate fixture (shared by the query and its oracle): samples
# per record per channel, record count, physical range per channel
_EDF_GATE_SPR = (64, 64, 32, 16)
_EDF_GATE_NREC = 50
_EDF_GATE_PMIN = (-500.0, -200.0, 0.0, -1.0)
_EDF_GATE_PMAX = (500.0, 300.0, 100.0, 1.0)

# edf_roundtrip shares one write range across channels (the writer uses a
# single physical range); both bounds survive the 8-char header field
# exactly, so the reader re-derives this exact slope/offset pair
_EDF_RT_PMIN, _EDF_RT_PMAX = -500.0, 500.0
_EDF_RT_SLOPE = (_EDF_RT_PMAX - _EDF_RT_PMIN) / (32767.0 - (-32768.0))
_EDF_RT_OFFSET = _EDF_RT_PMIN - _EDF_RT_SLOPE * (-32768.0)

# annotations_mask fixture: (label, time_s, duration_s, channel) with
# integer times so interval bounds round(time*fs) are exact; "rest" is
# excluded by the reader's label filter
_ANN_GATE_FIXTURE = [
    ("seizure", 3, 2, "ALL"),
    ("artifact", 10, 1, "ALL"),
    ("seizure", 20, 4, "ALL"),
    ("rest", 30, 5, "ALL"),
    ("seizure", 47, 3, "ALL"),
]


def _edf_gate_digital(ch: int, t):
    """Deterministic int16 digital samples; non-negative intermediate so
    numpy % and SQL % agree."""
    return ((1009 * t + 7919 * ch) % 65536) - 32768


# fixed ordered BPE merge table for the bpe_encode gate: includes a
# cascade (t+h -> th, th+e -> the; a+n -> an, an+d -> and) so merge
# order and merged-symbol reuse are both exercised
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("an", "d"), ("o", "n"), ("r", "e"), ("s", "t"), ("e", "n"),
]

# fixed probe words for the Count-Min gate (mix of frequent, mid, and
# absent tokens so est==exact and est>exact cells both appear)
_CM_PROBES = [
    "table", "scan", "join", "window", "fast", "value", "the", "a",
    "data", "zzz_absent_token",
]

# fixed keyword queries for the BM25 gate (terms drawn from the synthetic
# documents vocabulary)
_BM25_QUERIES = {
    1: "fast hash join",
    2: "window agg stream",
    3: "customer query scan",
}

sig = "WITH " + signal_cte(NCH)

_dl_cte = f"""
          SELECT doc_id,
                 {dedup.tokenize_sql()} AS wl
          FROM documents WHERE text IS NOT NULL"""

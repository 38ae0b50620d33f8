"""Workload ``stream_sosfilt``: the IIR kernel run incrementally.

Each iteration drains its own seeded backlog of parquet batch files
through ``streaming.stateful.streaming_sosfilt`` with
``maxFilesPerTrigger=1`` — a closed loop with one stream, where each
micro-batch starts when the previous one commits.  The memory sink keeps
every output row, and the check requires the stream to equal
``kernels.sosfilt`` over the concatenated input, as the module promises.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np

from edf_psd import FS, sos

NAME = "stream_sosfilt"
ITEM = "samples"
CHANNELS = 4
FILES = 8  # micro-batches per backlog
FILE_SAMPLES = 2500  # per channel per file
OPS_PER_ITERATION = 1
SCHEMA = "recording_id string, channel int, t long, v double"
# StreamingQueryProgress.durationMs keys reported by the traced run
DURATIONS = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
    "latest_offset_s": "latestOffset",
}


@dataclass
class Input:
    dir: Path
    name: str
    x: dict  # channel -> concatenated input samples


def make_input(work: Path, seed: int, i: int) -> Input:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, i, 2])
    n = FILES * FILE_SAMPLES
    t = np.arange(n)
    x = {}
    for ch in range(CHANNELS):
        f = rng.uniform(2.0, 35.0)
        x[ch] = 20.0 * np.sin(2 * np.pi * f * t / FS) + rng.normal(scale=5.0, size=n)
    name = f"{NAME}_{seed}_{i}"
    d = work / name
    d.mkdir(parents=True)
    rid = f"r{seed}_{i}"
    for k in range(FILES):
        sl = slice(k * FILE_SAMPLES, (k + 1) * FILE_SAMPLES)
        tbl = pa.table(
            {
                "recording_id": pa.array([rid] * (CHANNELS * FILE_SAMPLES), pa.string()),
                "channel": pa.array(
                    np.repeat(np.arange(CHANNELS, dtype=np.int32), FILE_SAMPLES)
                ),
                "t": pa.array(np.tile(t[sl], CHANNELS)),
                "v": pa.array(np.concatenate([x[ch][sl] for ch in range(CHANNELS)])),
            }
        )
        p = d / f"batch_{k:05d}.parquet"
        pq.write_table(tbl, p)
        # the file source orders a backlog by modification time
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
    return Input(d, name, x)


def items(inp: Input) -> int:
    return CHANNELS * FILES * FILE_SAMPLES


def run(spark, inp: Input):
    """Drain one backlog to completion; returns the sink contents and the
    micro-batch progress reports."""
    from openseize_spark.streaming.stateful import streaming_sosfilt

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inp.dir))
    )
    q = (
        streaming_sosfilt(stream, sos())
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(inp.name)
        .option("checkpointLocation", str(inp.dir) + "_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    pdf = spark.sql(f"SELECT channel, t, v FROM {inp.name}").toPandas()
    spark.catalog.dropTempView(inp.name)
    out = {
        int(ch): g.sort_values("t")[["t", "v"]].to_numpy()
        for ch, g in pdf.groupby("channel")
    }
    return out, {"progress": progress, "run_id": str(q.runId)}


def batch_seconds(info: dict) -> list[float]:
    return [p.durationMs["triggerExecution"] / 1e3 for p in info["progress"]]


def layer_metrics(info: dict) -> dict:
    """streaming.* per-layer metrics from one drain's progress reports."""
    from harness import median

    prog = info["progress"]
    out = {
        k: (median([p.durationMs.get(key, 0) / 1e3 for p in prog]), "s")
        for k, key in DURATIONS.items()
    }
    last = prog[-1].stateOperators[0]
    out["state_rows"] = (last.numRowsTotal, "count")
    out["state_memory_mb"] = (last.memoryUsedBytes / float(1 << 20), "MB")
    return out


def check(inp: Input, out: dict, ref: dict | None = None) -> list[str]:
    ref = reference(inp) if ref is None else ref
    problems = []
    if sorted(out) != sorted(ref):
        return [f"channels {sorted(out)} != {sorted(ref)}"]
    for ch, want in ref.items():
        got = out[ch]
        if len(got) != len(want) or not np.array_equal(got[:, 0], np.arange(len(want))):
            problems.append(f"channel {ch}: t is not dense 0..{len(want) - 1}")
        elif not np.allclose(got[:, 1], want, rtol=0.0, atol=1e-9):
            problems.append(f"channel {ch}: stream output differs from kernels.sosfilt")
    return problems


def reference(inp: Input) -> dict:
    from openseize_spark.dsp import kernels

    return {ch: kernels.sosfilt(sos(), x)[0] for ch, x in inp.x.items()}


def corrupt(out: dict) -> dict:
    bad = {ch: a.copy() for ch, a in out.items()}
    bad[0][len(bad[0]) // 2, 1] += 1e-3
    return bad

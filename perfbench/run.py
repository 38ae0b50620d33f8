#!/usr/bin/env python3
"""Benchmark of the ``openseize_spark`` package, run from the repository root:

    python3 perfbench/run.py --workload edf_psd --seed 1 --seconds 12 --trace 0

``--workload all`` runs every workload in turn.  With ``--trace 0`` the
last stdout line is one JSON result with the end-to-end metrics (see
BENCHMARK.json); the line before it carries the run environment and the
samples behind each metric.  ``--trace 1`` runs every package layer
under its own Spark job group with the event log on, and the workload's
whole pipeline traced and untraced, and reports the per-layer metrics;
spans and per-group totals are written to ``.perfbench_out/``.  Scratch
data lives in ``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

WORKLOADS = ("edf_psd", "stream_sosfilt", "corpus_dedup")
SETUPS = 5  # session restarts (plus one input each) behind setup_s
MIN_ITERATIONS = 3  # steady iterations, however long they take
LAYER_PASSES = 3  # traced layer passes of the requested workload, each on its own input
SESSIONS = 3  # session restarts behind session.get_spark_s
OVERHEAD_ITERATIONS = 3  # untraced and traced pipelines behind trace.overhead_ratio
DRIVER_MEM = "3g"


def pin_environment(root: Path, work: Path) -> None:
    """Fix what the package reads from the environment, before pyspark
    or numpy are imported; every Spark process inherits it."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    pythonpath = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update(
        {
            # get_spark falls back to local[32] without it
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(work / "local"),
            # Python workers import the package from the checkout
            "PYTHONPATH": ":".join(pythonpath),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": str(tmp),
            # one BLAS thread per process: Spark already runs one task per core
            "OMP_NUM_THREADS": "1",
            "OPENBLAS_NUM_THREADS": "1",
            "MKL_NUM_THREADS": "1",
            "PYTHONWARNINGS": "ignore::FutureWarning",
        }
    )
    sys.path.insert(0, str(root))


def _attempt(fn, *args):
    """(seconds, result or None): a failing call counts as a failed
    operation, and the run goes on."""
    from harness import timed

    try:
        return timed(fn, *args)
    except Exception:  # the boundary: record, count, continue
        traceback.print_exc()
        return 0.0, None


def _grade(w, runs) -> tuple[int, int, bool, list[str]]:
    """(attempted, failed, self_check_ok, problems) over (input, output)
    pairs; the first output, corrupted on purpose, must fail its check."""
    attempted = failed = 0
    problems, self_ok = [], False
    for k, (inp, out) in enumerate(runs):
        attempted += w.OPS_PER_ITERATION
        if out is None:
            failed += w.OPS_PER_ITERATION
            continue
        ref = w.reference(inp)
        bad = w.check(inp, out, ref)
        failed += min(len(bad), w.OPS_PER_ITERATION)
        problems += bad
        if k == 0:
            self_ok = bool(w.check(inp, w.corrupt(out), ref))
    return attempted, failed, self_ok, problems


def _env(spark) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": DRIVER_MEM,
        "spark": pyspark.__version__,
    }


def measure(w, work: Path, seed: int, seconds: float) -> tuple[dict, dict]:
    """Untraced run.  The first session (JVM launch included) runs the
    cold first iteration, then steady iterations for at least ``seconds``
    and MIN_ITERATIONS; ``wall_s`` is their median, so a first steady
    iteration that is still warming up does not set it.  Then SETUPS
    fresh sessions in the same JVM, each with one new input, give the
    set-up samples."""
    from harness import MB, RssSampler, StealMeter, median, session, tail

    steal = StealMeter()
    runs, walls, batches, setups = [], [], [], []
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = session(f"perfbench-{w.NAME}", work)
        inp = w.make_input(work, seed, 0)
        first_setup = time.perf_counter() - t0
        cold, t_steady, i = 0.0, 0.0, 0
        while i <= MIN_ITERATIONS or time.perf_counter() - t_steady < seconds:
            if i:
                inp = w.make_input(work, seed, i)
            dt, res = _attempt(w.run, spark, inp)
            out, info = res if res is not None else (None, {})
            runs.append((inp, out))
            if i == 0:
                cold = dt
                t_steady = time.perf_counter()
            elif out is not None:
                walls.append(dt)
                if hasattr(w, "batch_seconds"):
                    batches += w.batch_seconds(info)
            i += 1
        env = _env(spark)
        for k in range(SETUPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = session(f"perfbench-{w.NAME}-{k}", work)
            w.make_input(work, seed, 1000 + k)
            setups.append(time.perf_counter() - t0)
        spark.stop()
    env["steal_share"] = steal.read()
    attempted, failed, self_ok, problems = _grade(w, runs)
    wall = median(walls) if walls else float("nan")
    metrics = {
        "setup_s": (median(setups), "s"),
        "cold_wall_s": (cold, "s"),
        "wall_s": (wall, "s"),
        "throughput_per_s": (w.items(inp) / wall, "1/s"),
        "peak_rss_mb": (rss.peak / MB, "MB"),
    }
    tail_p = None
    if batches:  # micro-batch latencies, from the streaming workload
        tail_s, tail_p, _ = tail(batches)
        metrics["batch_p50_s"] = (median(batches), "s")
        metrics["batch_tail_s"] = (tail_s, "s")
    detail = {
        "workload": w.NAME,
        "seed": seed,
        "env": env,
        "items_per_iteration": w.items(inp),
        "item": w.ITEM,
        "first_setup_s": first_setup,  # JVM launch included
        "setup_samples_s": setups,
        "steady_iterations": len(walls),
        "wall_samples_s": walls,
        "batch_samples": len(batches),
        "batch_tail_percentile": tail_p,
        "error_rate": failed / attempted,
        "self_check_detects_corruption": self_ok,
        "problems": problems[:10],
    }
    return _result(metrics, attempted, failed, self_ok), detail


def trace(w, work: Path, out_dir: Path, seed: int) -> tuple[dict, dict]:
    """Traced run, in one JVM and three phases.

    1. Layer passes: a session with the event log on runs one whole
       ``edf_psd`` pipeline (EDF read amplification; it also takes the
       JVM's cold start), LAYER_PASSES layer passes of ``w`` and one of
       the other workload (each pass on its own input, each package call
       one span), then one ``stream_sosfilt`` drain (its progress
       reports).  Every traced run reports every layer, but only the
       requested workload's layers are medians over several passes.
    2. SESSIONS fresh sessions with the event log off (their start times
       give session.get_spark_s); the last one runs OVERHEAD_ITERATIONS
       untraced pipelines of ``w``.
    3. A fresh session with the event log on runs OVERHEAD_ITERATIONS
       pipelines of ``w``, each under its own job group (the spark.*
       totals).  trace.overhead_ratio is the median traced pipeline over
       the median untraced one; on both sides the first pipeline is the
       first of a fresh session, which the median leaves out.

    """
    from harness import EventLog, StealMeter, Tracer, load_events, median, session, timed

    import corpus_dedup
    import edf_psd
    import stream_sosfilt

    steal = StealMeter()
    event_dir = work / f"eventlog-{w.NAME}"  # one per workload under --workload all
    spark = session(f"perfbench-{w.NAME}-layers", work, event_log=event_dir)
    tracer = Tracer(spark)
    runs = {m: [] for m in (edf_psd, stream_sosfilt, corpus_dedup)}  # (input, output)
    inp = edf_psd.make_input(work, seed, 300)
    with tracer.span("edf_psd:pipeline"):
        out, _ = edf_psd.run(spark, inp)
    runs[edf_psd].append((inp, out))
    passes = {x: LAYER_PASSES if x is w else 1 for x in (edf_psd, corpus_dedup)}
    extras, baseline_s = [], []
    for x, n in passes.items():
        for r in range(n):
            inp = x.make_input(work, seed, 310 + r)
            with tracer.span(f"{x.NAME}#{r}"):
                out, more = x.run_layers(spark, inp, tracer, f"{x.NAME}#{r}")
            spark.catalog.clearCache()
            runs[x].append((inp, out))
            extras.append(more)
            if x is edf_psd:
                baseline_s.append(timed(edf_psd.reference, inp)[0])
    write_s = [inp.write_s for inp, _ in runs[edf_psd]]
    inp = stream_sosfilt.make_input(work, seed, 320)
    with tracer.span("stream_sosfilt:drain", group=False):
        out, drain = stream_sosfilt.run(spark, inp)
    runs[stream_sosfilt].append((inp, out))
    env = _env(spark)

    get_spark_s = []
    for k in range(SESSIONS):
        spark.stop()
        t0 = time.perf_counter()
        spark = session(f"perfbench-{w.NAME}-{k}", work)
        get_spark_s.append(time.perf_counter() - t0)
    untraced = []
    for k in range(OVERHEAD_ITERATIONS):
        inp = w.make_input(work, seed, 400 + k)
        dt, (out, _) = timed(w.run, spark, inp)
        untraced.append(dt)
        runs[w].append((inp, out))
    spark.stop()
    spark = session(f"perfbench-{w.NAME}-traced", work, event_log=event_dir)
    tracer.sc = spark.sparkContext
    traced, groups = [], []
    for k in range(OVERHEAD_ITERATIONS):
        inp = w.make_input(work, seed, 500 + k)
        name = f"{w.NAME}:traced#{k}"
        with tracer.span(name):
            out, more = w.run(spark, inp)
        traced.append(tracer.duration(name))
        # a stream's micro-batch jobs run under the query's run id
        groups.append(more.get("run_id", name))
        runs[w].append((inp, out))
    spark.stop()
    env["steal_share"] = steal.read()

    ev = EventLog(load_events(event_dir))
    span_s = tracer.duration

    n_pass = {x.NAME: n for x, n in passes.items()}

    def per_pass(workload, value) -> float:
        """Median over the workload's layer passes of value(tag)."""
        return median([value(f"{workload}#{r}") for r in range(n_pass[workload])])

    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (median(get_spark_s), "s"),
        "sources.edf.write_s": (median(write_s), "s"),
        "sources.edf.read_s": (
            per_pass(
                "edf_psd",
                lambda t: span_s(f"{t}:sources.edf.read:build")
                + span_s(f"{t}:sources.edf.read:action"),
            ),
            "s",
        ),
        "sources.edf.read_amplification": (
            ev.total("edf_psd:pipeline")["edf_rows"] / edf_psd.items(None), "ratio"
        ),
    }

    def layer_metrics(workload, name, full=True, python=True):
        def total(key):
            return lambda t: ev.total(f"{t}:{name}:build", f"{t}:{name}:action")[key]

        for part in ("build", "action"):
            m[f"{name}.{part}_s"] = (
                per_pass(workload, lambda t: span_s(f"{t}:{name}:{part}")), "s"
            )
        m[f"{name}.jobs"] = (per_pass(workload, total("jobs")), "count")
        if full:
            m[f"{name}.tasks"] = (per_pass(workload, total("tasks")), "count")
            if python:
                m[f"{name}.python_run_s"] = (per_pass(workload, total("python_run_s")), "s")
            m[f"{name}.shuffle_write_mb"] = (
                per_pass(workload, total("shuffle_write_mb")), "MB"
            )

    for name in (
        "operators.iir.sosfilt_blocks",
        "operators.resample.resample",
        "operators.spectral.welch_psd_blocks",
    ):
        layer_metrics("edf_psd", name)
    # a pure aggregation: no Python stage, so no python_run_s
    layer_metrics("edf_psd", "operators.spectral.band_power", python=False)
    m["dsp.kernels.baseline_s"] = (median(baseline_s), "s")
    for name in (
        "minhash_signatures", "minhash_lsh_pairs", "jaccard_verify",
        "connected_components", "pagerank", "minhash_dedup",
    ):
        layer_metrics("corpus_dedup", f"llm.dedup.{name}", full=False)
    layer_metrics("corpus_dedup", "llm.corpus_pipeline", full=False)
    m["llm.dedup.lsh_pair_precision"] = (
        median([e["lsh_pair_precision"] for e in extras if "lsh_pair_precision" in e]),
        "ratio",
    )
    for k, (v, unit) in stream_sosfilt.layer_metrics(drain).items():
        m[f"streaming.{k}"] = (v, unit)
    for k, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("executor_run_s", "s"), ("executor_cpu_s", "s"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ):
        m[f"spark.{k}"] = (median([ev.total(g)[k] for g in groups]), unit)
    m["trace.overhead_ratio"] = (median(traced) / median(untraced), "ratio")

    graded = [_grade(x, pairs) for x, pairs in runs.items()]
    attempted = sum(g[0] for g in graded)
    failed = sum(g[1] for g in graded)
    self_ok = all(g[2] for g in graded)
    problems = [p for g in graded for p in g[3]]
    out_dir.mkdir(exist_ok=True)
    with open(out_dir / f"trace-{w.NAME}-{seed}.json", "w") as f:
        json.dump(
            {"spans": tracer.spans, "groups": ev.groups, "metrics": m}, f, indent=1
        )
    detail = {
        "workload": w.NAME,
        "seed": seed,
        "env": env,
        "layer_passes": n_pass,
        "get_spark_samples_s": get_spark_s,
        "untraced_wall_samples_s": untraced,
        "traced_pipeline_samples_s": traced,
        "error_rate": failed / attempted,
        "self_check_detects_corruption": self_ok,
        "problems": problems[:10],
    }
    if w is edf_psd:
        # how much of the pipeline the kernels are: the whole-array
        # kernels over the untraced pipeline, and Python worker time
        # over executor run time in the traced pipelines
        detail["kernel_share"] = median(baseline_s) / median(untraced)
        detail["python_share"] = median(
            [ev.total(g)["python_run_s"] / ev.total(g)["executor_run_s"] for g in groups]
        )
    return _result(m, attempted, failed, self_ok), detail


def _result(metrics, attempted, failed, self_ok) -> dict:
    return {
        "correct": failed == 0 and self_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "openseize_spark" / "__init__.py").is_file():
        print(
            "perfbench: openseize_spark/ not found; run from the repository root",
            file=sys.stderr,
        )
        return 2
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(root, work)
    from harness import stop_jvm

    try:
        for name in WORKLOADS if args.workload == "all" else (args.workload,):
            w = importlib.import_module(name)
            if args.trace:
                result, detail = trace(w, work, root / ".perfbench_out", args.seed)
            else:
                result, detail = measure(w, work, args.seed, args.seconds)
            stop_jvm()  # each workload starts from a fresh JVM
            print(json.dumps(detail), flush=True)
            print(json.dumps(result), flush=True)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if not any((root / ".perfbench_work").iterdir()):
            (root / ".perfbench_work").rmdir()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Shared machinery of the benchmark: pinned Spark session, timers,
process-tree RSS sampling, CPU steal, tail percentiles, spans and the
event-log reducer that turns a traced run into per-layer numbers.

Nothing here imports pyspark at module load, so ``run.py`` can pin the
environment before the first Spark import.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path

MB = float(1 << 20)

# Percentiles the tail metric may report, highest first.  The guide's rule:
# report the highest percentile that still has >= 10 samples beyond it.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def session(app: str, work: Path, event_log: Path | None = None):
    """A SparkSession from the package's own factory, with the run's
    pinned settings passed through ``extra_conf``."""
    from openseize_spark.session import get_spark
    from openseize_spark.sources.edf import register_edf_source

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed-size heap, touched at launch, so peak RSS does not hang
        # on how much of the heap a run's garbage happened to reach; temp
        # files stay in the run
        "spark.driver.extraJavaOptions": (
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
        ),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app, extra_conf=conf)
    register_edf_source(spark)
    return spark


def stop_jvm():
    """End the JVM that pyspark launched and wait for it to exit (it
    would otherwise notice the closed pipe only after this process)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest ladder percentile with at
    least ten samples beyond it; the median when no ladder step has."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (1.0 - p / 100.0) >= 10.0:
            return percentile(xs, p), p, n
    return median(xs), 50.0, n


def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


# ------------------------------------------------------------ /proc probes
def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


class StealMeter:
    """Share of CPU time stolen by the hypervisor between start and
    read, from the aggregate ``cpu`` line of /proc/stat."""

    def __init__(self):
        self.t0 = _cpu_times()

    def read(self) -> float:
        t1 = _cpu_times()
        d = [b - a for a, b in zip(self.t0, t1)]
        total = sum(d[:8])  # user..steal; guest time is inside user
        return d[7] / total if total > 0 else 0.0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    Python, the JVM, Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    def _loop(self):
        while not self._stop.wait(self.interval):
            self._sample()

    def _sample(self):
        parent = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            # the command name may contain spaces; fields resume after ')'
            parent[int(d)] = int(st[st.rindex(")") + 2 :].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        children = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for c in children.get(frontier.pop(), ()):
                tree.add(c)
                frontier.append(c)
        rss = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak = max(self.peak, rss)


# ------------------------------------------------------------------ spans
class Tracer:
    """Spans at the benchmark's calls into each package layer.  Each span
    sets one Spark job group, so the event log attributes every job the
    call launches to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, group: bool = True):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter() - self.t0}
        if group:
            self.sc.setJobGroup(name, name)
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            self.spans.append(rec)
            if group:
                # hand jobs back to the enclosing span's group
                self.sc.setLocalProperty("spark.jobGroup.id", parent)
                self.sc.setLocalProperty("spark.job.description", parent)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def layer(tracer: Tracer, tag: str, name: str, build, materialize=None):
    """Call one package function under ``<tag>:<name>:build`` and
    materialize its DataFrame result under ``...:action`` (persist +
    count), so each layer's jobs and time are its own and the next layer
    reads a cached input.  Returns (result, row count)."""
    with tracer.span(f"{tag}:{name}:build"):
        out = build()
    df = materialize(out) if materialize else out
    with tracer.span(f"{tag}:{name}:action"):
        df.persist()
        n = df.count()
    return out, n


# --------------------------------------------------------- event log
def load_events(event_dir: Path) -> list[list[dict]]:
    """The events of every application logged under ``event_dir``, one
    list per application."""
    apps = []
    for p in sorted(event_dir.iterdir()):
        with open(p) as f:
            apps.append([json.loads(line) for line in f if line.strip()])
    return apps


class EventLog:
    """Spark's event logs reduced to per-job-group totals.  Group names
    must be unique across the applications; stage ids restart in each."""

    def __init__(self, apps: list[list[dict]]):
        self.groups: dict[str, dict] = {}
        for events in apps:
            self._add(events)

    def _add(self, events: list[dict]):
        stage_group: dict[int, str] = {}
        timing_type: dict[int, str] = {}
        edf_scan_acc: set[int] = set()
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                self._g(g)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[e["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(e["Stage Info"]["Stage ID"])
                self._g(g)["stages"] += 1
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                self._scan_plan(e["sparkPlanInfo"], timing_type, edf_scan_acc)
        for e in events:
            if e["Event"] != "SparkListenerTaskEnd":
                continue
            g = self._g(stage_group.get(e["Stage ID"]))
            m = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            )
            g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                try:  # SQL metrics carry their updates as strings
                    upd = float(a.get("Update"))
                except (TypeError, ValueError):
                    continue
                if a.get("Name") == "time to run Python workers":
                    scale = 1e9 if timing_type.get(a["ID"]) == "nsTiming" else 1e3
                    g["python_run_s"] += upd / scale
                elif a["ID"] in edf_scan_acc:
                    g["edf_rows"] += upd

    def _scan_plan(self, node: dict, timing_type: dict, edf_scan_acc: set):
        for m in node.get("metrics", []):
            timing_type[m["accumulatorId"]] = m.get("metricType")
            if (
                node["nodeName"].startswith("BatchScan")
                and " edf[" in node["simpleString"]
                and m["name"] == "number of output rows"
            ):
                edf_scan_acc.add(m["accumulatorId"])
        for c in node.get("children", []):
            self._scan_plan(c, timing_type, edf_scan_acc)

    def _g(self, name) -> dict:
        if name not in self.groups:
            self.groups[name] = {
                "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
                "executor_cpu_s": 0.0, "gc_s": 0.0, "python_run_s": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0, "edf_rows": 0,
            }
        return self.groups[name]

    def total(self, *names: str) -> dict:
        """Sums over the named groups."""
        parts = [self.groups[n] for n in names if n in self.groups]
        return {k: sum(p[k] for p in parts) for k in self._g(None)}

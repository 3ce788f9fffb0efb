"""Session set-up, tracing and statistics shared by every workload.

Tracing keeps spans in memory and writes them once at the end.  A span is
recorded in the benchmark's own code around each call into an engine
layer; it tags the Spark jobs launched inside it with a job group, so the
Spark event log (enabled only in traced runs) attributes jobs, stages and
tasks to the innermost open span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

MB = 1024 * 1024


# -- statistics ------------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n).  Fewer than 20 samples leave no
    percentile from the ladder with ten samples beyond it; the maximum is
    reported then, as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    for p in (99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return float(statistics.quantiles(xs, n=100, method="inclusive")[int(p) - 1]), p, n
    return float(xs[-1]), 100.0, n


# -- tracing ---------------------------------------------------------------

@dataclass
class Span:
    id: int
    parent: int | None
    kind: str
    request: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans around calls into engine layers.  Disabled, ``span`` is a
    no-op context manager and ``wrap`` returns the function unchanged."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.request = ""
        self.window = "setup"  # which phase of the run spans belong to

    def add(self, kind: str, start: float, end: float) -> None:
        """Record a span timed by the caller (no Spark jobs attributed)."""
        if self.enabled:
            self._next += 1
            self.spans.append(Span(self._next, None, kind, self.request, start,
                                   end, {"window": self.window}))

    def group(self, span_id: int) -> str:
        return f"pb-{span_id}"

    @contextlib.contextmanager
    def span(self, kind: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        sp = Span(self._next, parent.id if parent else None, kind,
                  self.request, time.perf_counter(), attrs=dict(attrs))
        sp.attrs["window"] = self.window
        self._stack.append(sp)
        self.sc.setJobGroup(self.group(sp.id), kind)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                self.sc.setJobGroup(self.group(parent.id), parent.kind)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, kind: str, fn, on_result=None):
        """``fn`` with a span around every call; ``on_result(span,
        args, result)`` may annotate the span."""
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(kind) as sp:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(sp, args, out)
                return out

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([sp.__dict__ for sp in self.spans], f)


@contextlib.contextmanager
def patched(obj, name: str, value):
    """Temporarily replace ``obj.name`` (used to put spans around calls
    an engine function makes into another layer)."""
    old = getattr(obj, name)
    setattr(obj, name, value)
    try:
        yield
    finally:
        setattr(obj, name, old)


# -- Spark event log -------------------------------------------------------

def read_event_log(path: str) -> dict[str, dict]:
    """Aggregate an uncompressed Spark event log by job group.

    Returns {group: stats} where stats holds job/stage/task counts and
    sums of task run, CPU, GC and queueing time, shuffle and spill bytes,
    and bytes crossing the Python boundary (and the run time of tasks in
    stages that crossed it)."""
    stage_group: dict[int, str] = {}
    stage_submit: dict[int, int] = {}
    job_start: dict[int, tuple[str, int]] = {}
    stats: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_py: dict[int, float] = defaultdict(float)
    stage_run: dict[int, float] = defaultdict(float)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if not group:
                    continue
                job_start[ev["Job ID"]] = (group, ev["Submission Time"])
                stats[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                hit = job_start.get(ev["Job ID"])
                if hit:
                    stats[hit[0]]["jobs_s"] += (ev["Completion Time"] - hit[1]) / 1e3
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_submit[info["Stage ID"]] = info.get("Submission Time", 0)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                group = stage_group.get(sid)
                if group:
                    stats[group]["stages"] += 1
                    if stage_py[sid] > 0:
                        stats[group]["py_task_s"] += stage_run[sid]
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                group = stage_group.get(sid)
                if not group:
                    continue
                s = stats[group]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1e3
                s["tasks"] += 1
                s["task_run_s"] += run_s
                s["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sub = stage_submit.get(sid) or info["Launch Time"]
                s["task_wait_s"] += max(info["Launch Time"] - sub, 0) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / MB
                wr = m.get("Shuffle Write Metrics") or {}
                s["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / MB
                s["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                stage_run[sid] += run_s
                for acc in info.get("Accumulables") or []:
                    name = acc.get("Name")
                    if name == "data sent to Python workers":
                        s["py_in_mb"] += float(acc.get("Update", 0)) / MB
                    elif name == "data returned from Python workers":
                        v = float(acc.get("Update", 0))
                        s["py_out_mb"] += v / MB
                        stage_py[sid] += v
    return {g: dict(v) for g, v in stats.items()}


# -- process facts ---------------------------------------------------------

def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def reset_peak_rss() -> None:
    """Restart this process's resident-memory high-water mark from its
    current size, so its peak covers only what follows."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process (since
    ``reset_peak_rss``) plus the JVM."""
    py = jvm = 0.0
    try:
        py = _vm_hwm_mb("self")
        jvm = _vm_hwm_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    except OSError:
        pass
    return py + jvm


def environment(spark, root: str, seed: int) -> dict:
    """Facts every result records: cores, versions, source revision, seed."""
    import pyspark

    head = ""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                ref = f.read().strip()
        head = ref
    except OSError:
        head = "unknown (not a git checkout)"
    return {
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "jvm": str(spark._jvm.java.lang.System.getProperty("java.version")),
        "git_head": head,
        "seed": seed,
    }

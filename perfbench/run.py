"""Benchmark entry point.

    python3 perfbench/run.py --workload query_core --seed 1 --seconds 10 --trace 0

Runs one workload from the checkout root: writes seeded inputs (in a
child process), sets up a session (several times; the median is
``setup_s``), makes untimed warm passes, then runs closed-loop passes for
``--seconds`` (and at least the workload's ``min_passes``).  Every
operation's output is checked.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``, holding
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``.  A traced run measures half its window untraced and half
traced, so it can report the tracing overhead.

Everything the run writes stays under ``.perfbench/`` in the checkout:
inputs, Spark scratch space and event logs under ``work/`` (removed at
the end) and the full record of each run (environment, per-call
latencies, diagnostics, spans) under ``results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# A fixed-size Spark driver heap (the engine's default is an 8 GB ceiling the
# JVM grows into): peak RSS then does not depend on when the collector
# decides to grow the heap, which varied it by ~30% between runs.
HEAP = "2g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    ap.add_argument("--tables", default=None,
                    help="query_* only: read the ten contract tables from "
                         "this directory instead of generating them (to "
                         "compare the generated tables with another data set)")
    return ap.parse_args(argv)


def prepare_environment(work: str) -> dict[str, str]:
    """Process environment for the run; returns Spark confs to add.

    - the checkout goes on the Python workers' path (UDF workers
      otherwise die with ModuleNotFoundError: snowav_spark);
    - all scratch space (TMPDIR, SPARK_LOCAL_DIRS, the JVM's tmpdir,
      warehouse, Derby home) lives under ``work``; the JVMs keep no
      perf-data files in /tmp;
    - local[<cores this process may use>], no console progress bar."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    jopts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_LAUNCHER_OPTS=jopts,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
    )
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = tmp
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"{jopts} -Xms{HEAP}",
    }


class Record:
    __slots__ = ("name", "seconds", "ok", "window", "pass_no")

    def __init__(self, name, seconds, ok, window, pass_no):
        self.name, self.seconds, self.ok = name, seconds, ok
        self.window, self.pass_no = window, pass_no


class Context:
    """What a workload sees: the session, the tracer, and ``call``."""

    def __init__(self, work, seed, size, tracer):
        self.root, self.work, self.seed, self.size = ROOT, work, seed, size
        self.tracer = tracer
        self.spark = None
        self.window = "setup"
        self.pass_no = 0
        self.records: list[Record] = []
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def call(self, name, fn, *args, check=None):
        """One timed engine operation; its result is checked afterwards
        (untimed).  Returns the result, or None if it failed."""
        self.attempted += 1
        self.tracer.request = f"{self.pass_no}:{name}"
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn(*args)
            dt = time.perf_counter() - t0
            problems = check(out) if check is not None else []
        except Exception as e:  # a failed operation is counted, not fatal
            out, dt = None, time.perf_counter() - t0
            problems = [f"{name}: {type(e).__name__}: {str(e)[:400]}"]
        if problems:
            self.failed += 1
            self.problems += [f"pass {self.pass_no}: {p}" for p in problems]
            print("\n".join(problems), file=sys.stderr)
        self.records.append(Record(name, dt, not problems, self.window, self.pass_no))
        return None if problems else out

    def traced(self, kind, fn, *args):
        with self.tracer.span(kind):
            return fn(*args)


def start_session(ctx, conf: dict[str, str]):
    from snowav_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.add("session.start", t0, time.perf_counter())
    ctx.tracer.sc = spark.sparkContext
    return spark


def measure(ctx, wl, seconds: float, window: str, min_passes: int = 1) -> list[float]:
    """Closed-loop passes until ``seconds`` have elapsed and at least
    ``min_passes`` have run; returns each pass's busy time (the sum of its
    operations)."""
    ctx.window = ctx.tracer.window = window
    passes = []
    t0 = time.perf_counter()
    while True:
        ctx.pass_no += 1
        n0 = len(ctx.records)
        wl.run_pass(ctx)
        passes.append(sum(r.seconds for r in ctx.records[n0:]))
        if len(passes) >= min_passes and time.perf_counter() - t0 >= seconds:
            return passes


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def make_inputs(args, work: str) -> dict:
    """Run ``inputs.py`` for this run and return what it wrote."""
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "inputs.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--size", args.size, "--work", work]
    if args.tables:
        cmd += ["--tables", os.path.abspath(args.tables)]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(os.path.join(work, "inputs.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "snowav_spark", "__init__.py")):
        print("perfbench: no snowav_spark package in this checkout",
              file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import harness, metrics, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.tables and not args.workload.startswith("query_"):
        print("perfbench: --tables applies to the query_* workloads only",
              file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.tables:
        tag += "-tables"
    work = os.path.join(ROOT, ".perfbench", "work", tag)
    results = os.path.join(ROOT, ".perfbench", "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    conf = prepare_environment(work)
    trace = bool(args.trace)
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    tracer = harness.Tracer(enabled=trace)
    ctx = Context(work, args.seed, args.size, tracer)
    wl = workloads.make(args.workload)
    t0 = time.perf_counter()
    wl.prepare(ctx, make_inputs(args, work))
    inputs_s = time.perf_counter() - t0

    setup_s = []
    spark = None
    harness.reset_peak_rss()
    try:
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = ctx.spark = start_session(ctx, conf)
            wl.load(ctx)
            setup_s.append(time.perf_counter() - t0)
        wl.after_setup(ctx)
        warm = measure(ctx, wl, wl.warm_seconds, "warm")
        traced, diag = [], {}
        if trace:
            # half the window untraced, half traced: their ratio is the
            # tracing overhead
            tracer.enabled = False
            plain = measure(ctx, wl, args.seconds / 2, "measure")
            tracer.enabled = True
            traced = measure(ctx, wl, args.seconds / 2, "traced")
        else:
            plain = measure(ctx, wl, args.seconds, "measure", wl.min_passes)
        rss = harness.peak_rss_mb(spark)
        env = harness.environment(spark, ROOT, args.seed)
        app_id = spark.sparkContext.applicationId
        if args.workload == "query_core" and trace:
            fresh: dict[str, list[float]] = {}
            for r in ctx.records:
                if r.window == "measure" and r.ok:
                    fresh.setdefault(r.name, []).append(r.seconds)
            diag = wl.memo_diagnostic(ctx, fresh)
    finally:
        if spark is not None:
            stop_jvm(spark)

    record = {
        "workload": args.workload, "seconds": args.seconds, "size": args.size,
        "tables": args.tables or "generated",
        "env": env, "inputs_s": inputs_s, "setup_reps_s": setup_s,
        "warm_passes_s": warm, "passes_s": plain, "traced_passes_s": traced,
        "index_build_s": getattr(wl, "index_build", {}),
        "diagnostic": diag, "problems": ctx.problems[:50],
        "calls": [(r.name, r.pass_no, r.seconds) for r in ctx.records
                  if r.window == "measure"],
        "fail_rate": ctx.failed / max(ctx.attempted, 1),
    }
    if trace:
        groups = harness.read_event_log(os.path.join(work, "eventlog", app_id))
        values = metrics.per_layer(ctx, wl, groups, plain, traced)
        tracer.dump(os.path.join(results, f"{tag}-spans.json"))
    else:
        values, extra = metrics.end_to_end(ctx, wl, setup_s, plain, rss)
        record.update(extra)
    record["metrics"] = values
    record["wall_s"] = time.perf_counter() - started
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    units = metrics.UNITS
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }), flush=True)
    return 1 if ctx.failed else 0


if __name__ == "__main__":
    sys.exit(main())

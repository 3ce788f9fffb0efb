"""Metric definitions and their computation from a run's records.

End-to-end metrics (untraced runs) are what a user of the engine sees;
per-layer metrics (traced runs) say which layer a change moved.  The
layer -> end-to-end mapping each per-layer metric is expected to move is
``LAYER_MOVES``; README.md explains every metric.
"""

from __future__ import annotations

import os

from perfbench import harness

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "call_p50_s": "s",
    "call_tail_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PIPELINE_LLM_STAGES = ("raw", "cleaned", "gated", "exact_deduped", "near_deduped")
INDEX_BUILDS = ("pq_train_encode", "ivfpq_build", "ivfpq_meta_build",
                "text_index_build", "text_meta_build")

# per-layer metric -> (unit, the end-to-end metrics and workloads it moves)
LAYER_MOVES = {
    "session.start_s": ("s", "setup_s, all workloads"),
    "io.load_table_s": ("s", "call_p50_s on query_core"),
    "io.load_table_calls": ("count", "call_p50_s on query_core"),
    "io.reuse_ratio": ("ratio", "call_p50_s on query_core"),
    "contract.construct_s": ("s", "call_p50_s on query_core"),
    "contract.construct_jobs": ("count", "call_tail_s and pass_s on query_llm"),
    "plan.prepare_s": ("s", "call_p50_s on query_core"),
    "fetch.driver_s": ("s", "call_p50_s on query_core"),
    "exec.jobs_s": ("s", "pass_s on query_llm; items_per_s on ep1_season, curate_corpus"),
    "exec.jobs": ("count", "same as exec.jobs_s"),
    "exec.stages": ("count", "same as exec.jobs_s"),
    "exec.tasks": ("count", "same as exec.jobs_s"),
    "exec.task_run_s": ("s", "same as exec.jobs_s"),
    "exec.task_cpu_s": ("s", "same as exec.jobs_s"),
    "exec.task_wait_s": ("s", "same as exec.jobs_s"),
    "exec.gc_s": ("s", "same as exec.jobs_s"),
    "exec.core_util": ("ratio", "same as exec.jobs_s"),
    "exec.shuffle_read_mb": ("MB", "same as exec.jobs_s"),
    "exec.shuffle_write_mb": ("MB", "same as exec.jobs_s"),
    "exec.spill_mb": ("MB", "same as exec.jobs_s"),
    "python.bytes_to_python_mb": ("MB", "pass_s on query_llm; items_per_s on ep1_season, curate_corpus"),
    "python.bytes_from_python_mb": ("MB", "same as python.bytes_to_python_mb"),
    **{f"index.{b}_s": ("s", "index build time on query_llm (recorded with each result)")
       for b in INDEX_BUILDS},
    "pipeline.construct_s": ("s", "items_per_s on ep1_season"),
    "sources.scan_task_s": ("s", "items_per_s on ep1_season"),
    "sinks.write_s": ("s", "items_per_s on ep1_season"),
    "metadata.record_s": ("s", "items_per_s on ep1_season"),
    "sinks.append_missing_s": ("s", "pass_s on ep1_season (EP2)"),
    "report.frames_s": ("s", "pass_s and call_p50_s on ep1_season (EP3)"),
    "report.render_s": ("s", "pass_s on ep1_season (EP3)"),
    "pipeline_llm.construct_s": ("s", "items_per_s on curate_corpus"),
    **{f"pipeline_llm.rows.{s}": ("count", "items_per_s on curate_corpus")
       for s in PIPELINE_LLM_STAGES},
    "pipeline_llm.keep_ratio": ("ratio", "items_per_s on curate_corpus"),
    "sinks.corpus_write_s": ("s", "items_per_s on curate_corpus"),
    "sinks.packed_write_s": ("s", "items_per_s on curate_corpus"),
    "trace.overhead_ratio": ("ratio", "none: traced over untraced pass_s"),
}

UNITS = {**END_TO_END, **{k: u for k, (u, _) in LAYER_MOVES.items()}}

# per-layer time metric -> the span kind whose duration it sums
SPAN_TIMES = {
    "io.load_table_s": "io.load_table",
    "contract.construct_s": "contract.construct",
    "plan.prepare_s": "plan.prepare",
    "fetch.driver_s": "fetch.to_pandas",
    "pipeline.construct_s": "pipeline.construct",
    "sinks.write_s": "sinks.write",
    "metadata.record_s": "metadata.record",
    "sinks.append_missing_s": "sinks.append_missing",
    "report.frames_s": "report.frames",
    "report.render_s": "report.render",
    "pipeline_llm.construct_s": "pipeline_llm.construct",
    "sinks.corpus_write_s": "sinks.corpus_write",
    "sinks.packed_write_s": "sinks.packed_write",
}
EXEC_SUMS = ("jobs_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
             "task_wait_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb")


def end_to_end(ctx, wl, setup_s, passes, rss) -> tuple[dict, dict]:
    """The end-to-end metrics, and the record's extra detail."""
    ok = [r for r in ctx.records if r.window == "measure" and r.ok]
    lat = [r.seconds for r in ok] or [0.0]
    tail_v, pct, n = harness.tail(lat)
    item_call = getattr(wl, "items_call", None)
    if item_call:
        per = [r.seconds for r in ok if r.name == item_call] or [0.0]
    else:
        per = passes
    denom = harness.median(per)
    values = {
        "setup_s": harness.median(setup_s),
        "pass_s": harness.median(passes),
        "call_p50_s": harness.median(lat),
        "call_tail_s": tail_v,
        "items_per_s": wl.items_per_pass / denom if denom else 0.0,
        "peak_rss_mb": rss,
    }
    by_call: dict[str, list[float]] = {}
    for r in ok:
        by_call.setdefault(r.name, []).append(r.seconds)
    extra = {
        "call_tail_percentile": pct,
        "call_samples": n,
        "items": wl.items,
        "call_p50_by_name_s": {k: harness.median(v) for k, v in by_call.items()},
    }
    return values, extra


def per_layer(ctx, wl, groups: dict, plain, traced) -> dict:
    """Per-layer metrics from the traced window, per traced pass."""
    tr = ctx.tracer
    spans = [s for s in tr.spans if s.attrs.get("window") == "traced"]
    n = max(len(traced), 1)
    values = {k: 0.0 for k in LAYER_MOVES}
    starts = [s.end - s.start for s in tr.spans if s.kind == "session.start"]
    values["session.start_s"] = harness.median(starts) if starts else 0.0
    for metric, kind in SPAN_TIMES.items():
        values[metric] = sum(s.end - s.start for s in spans if s.kind == kind) / n
    loads = [s for s in spans if s.kind == "io.load_table"]
    values["io.load_table_calls"] = len(loads) / n
    if loads:
        values["io.reuse_ratio"] = sum(bool(s.attrs.get("reused")) for s in loads) / len(loads)
    totals = dict.fromkeys(EXEC_SUMS + ("py_in_mb", "py_out_mb"), 0.0)
    for s in spans:
        g = groups.get(tr.group(s.id))
        if not g:
            continue
        for k in totals:
            totals[k] += g.get(k, 0.0)
        if s.kind == "contract.construct":
            values["contract.construct_jobs"] += g.get("jobs", 0.0) / n
        if s.kind in ("sinks.write", "sinks.append_missing"):
            values["sources.scan_task_s"] += g.get("py_task_s", 0.0) / n
    for k in EXEC_SUMS:
        values[f"exec.{k}"] = totals[k] / n
    cores = len(os.sched_getaffinity(0))
    wall = sum(traced)
    values["exec.core_util"] = totals["task_run_s"] / (wall * cores) if wall else 0.0
    values["python.bytes_to_python_mb"] = totals["py_in_mb"] / n
    values["python.bytes_from_python_mb"] = totals["py_out_mb"] / n
    for b in INDEX_BUILDS:
        values[f"index.{b}_s"] = float(getattr(wl, "index_build", {}).get(b, 0.0))
    rows = getattr(wl, "rows", {})
    for st in PIPELINE_LLM_STAGES:
        values[f"pipeline_llm.rows.{st}"] = float(rows.get(st, 0))
    if rows.get("raw"):
        values["pipeline_llm.keep_ratio"] = rows.get("near_deduped", 0) / rows["raw"]
    values["trace.overhead_ratio"] = (
        harness.median(traced) / harness.median(plain) if plain and traced else 0.0
    )
    return values

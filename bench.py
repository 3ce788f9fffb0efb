"""Benchmark harness: runs the contract queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (unset or
blank: the host's cores) and prints ONE JSON line — {"metric", "value",
"unit", "queries", "sf"}.

The driver records only a bounded TAIL of stdout, so the final line must
stay short (BENCH_r02/r03 lost the head of a 92-entry line → "parsed":
null).  The printed "queries" dict therefore holds only the 10 slowest
keys; the FULL per-query timings go to BENCH_DETAIL.json (current run)
and are APPENDED as one self-contained JSON line to BENCH_HISTORY.jsonl
(every run, with git HEAD + timestamp), so round-over-round per-key
regression diffs are a plain ``json.loads`` per line — never an
escaped-text parse out of a truncated tail blob (VERDICT r8 item 4).

Methodology matches BASELINE.md: per-query wall time is best-of-3 after
one warm run; Spark session startup excluded.  Isolated re-timing rule
(VERDICT r9 item 2): after the suite quiesces, re-time in isolation
(a) the 5 slowest keys, (b) ANY key whose in-suite time breaches 2x of
its BASELINE.md per-key row, and (c) any key breaching 2x of its
blessed BASELINE_KEYS.json median — the isolated number REPLACES the
in-suite one (suite position is measurement noise, not query cost;
replacement — not min() — keeps the headline honest in both directions,
ADVICE r9).  Keys still above their bar AFTER isolated re-timing are
reported in BENCH_DETAIL.json["drift"] — those are real regressions,
not jitter (r9's q_topk artifact: 0.17s in-suite vs 0.06-0.09s
isolated, invisible to a slowest-5-only rescue).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# BASELINE.md per-key Spark rows at sf0.1 (the "must stay within 2x"
# contract).  q_zonal_volume shares the banded_agg row with q_zonal_mean.
# These bars are MEANINGLESS at any other scale factor — main() applies
# them only when the run's sf matches (ADVICE r10: a bench run at sf0.01
# used to flag near-every key as breaching and re-time them all).
BASELINE_MD_SF = 0.1
BASELINE_MD_SECONDS = {
    "q_zonal_mean": 1.50,
    "q_zonal_volume": 1.50,
    "q_end_last": 1.53,
    "q_sum_range": 0.31,
    "q_cumsum": 0.31,
    "q_pivot": 0.24,
    "q_join_dim": 0.57,
    "q_difference": 0.15,
    "q_topk": 0.08,
    "q_text_stats": 0.18,
    "q_dedup_exact": 0.16,
    "q_sim_topk": 0.11,
}


def regression_bars(
    repo_dir: str, sf: float, cpus: int, keys
) -> dict[str, float]:
    """Per-key regression bar for ``keys``: 2x a reference time, floored
    at 0.05 s.  The reference is the key's BASELINE.md row at sf0.1,
    else its median blessed from >=3 BENCH_HISTORY.jsonl runs at this
    core count (tools/bless_baseline.py writes BASELINE_KEYS.json
    ``by_cpus[str(cpus)]``; VERDICT r9 item 3).  Keys with neither have
    no bar.  Blessed medians apply only at the sf and core count they
    were measured at (ADVICE r10): sf0.1 medians as bars for an sf0.01
    run would flag nothing, and 32-core medians as bars for a 4-core run
    would flag every parallel-heavy key — either way the drift gate
    would measure the configuration gap, not plan regressions."""
    blessed: dict = {}
    path = os.path.join(repo_dir, "BASELINE_KEYS.json")
    if os.path.exists(path):
        with open(path) as f:
            baseline = json.load(f)
        if baseline.get("sf") == sf:
            section = baseline.get("by_cpus", {}).get(str(cpus), {})
            blessed = section.get("keys", {})
    md_bars = BASELINE_MD_SECONDS if sf == BASELINE_MD_SF else {}
    return {
        k: max(2.0 * md_bars.get(k, blessed.get(k, 0.0)), 0.05)
        for k in keys
        if k in md_bars or k in blessed
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    from snowav_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(
        app_name="snowav_spark-bench",
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Offline index-build cost, measured explicitly (VERDICT r9 item 4):
    # the index-backed keys (q_pq_ann / q_ivfpq_ann / q_ann_filtered /
    # q_text_index / q_text_filtered) are correctly benched search-only
    # — but the build is a real cost a user pays once, so it gets its
    # own visible row instead of hiding inside the first warm run.
    from snowav_spark import contract as _contract

    t0 = time.perf_counter()
    index_build = _contract.build_indexes(spark, sf_dir)
    index_build["total"] = round(time.perf_counter() - t0, 4)

    timings: dict[str, float] = {}
    for key, fn in entrymod.queries().items():
        best = None
        for i in range(4):  # 1 warm + best of 3
            t0 = time.perf_counter()
            # Arrow-batched materialization: full result still computed and
            # transferred to the driver, but via columnar Arrow batches
            # instead of row-at-a-time py4j pickling — the transfer path any
            # real consumer of a 600 k-row result would use.
            fn(spark, sf_dir).toPandas()
            dt = time.perf_counter() - t0
            if i > 0:
                best = dt if best is None else min(best, dt)
        timings[key] = round(best, 4)

    # Suite-position inflation guard (VERDICT r7 item 6, widened by
    # VERDICT r9 item 2): re-time in isolation after the suite has
    # quiesced (accumulated GC / checkpoint-block pressure from 190
    # earlier keys inflates late or heavy entries — q_pack_sequences
    # measured 0.49 s in-suite vs 0.39 s isolated in r7):
    #   (a) the 5 slowest keys, AND
    #   (b) every key whose in-suite time breaches its regression bar
    #       (regression_bars; the 0.05 s floor keeps a 5 ms key
    #       jittering to 11 ms from being flagged).
    # The isolated number REPLACES the key's contribution to the headline
    # total — not min(in-suite, isolated), which could only ever lower
    # the total and would bias the headline downward (ADVICE r9) — so
    # the suite metric reflects steady-state per-query cost in both
    # directions.  Keys STILL above the bar after isolation land in
    # "drift": real regressions, not suite-position jitter.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    cpus = spark.sparkContext.defaultParallelism
    bars = regression_bars(repo_dir, sf, cpus, timings)
    top5 = [
        k
        for k, _ in sorted(
            timings.items(), key=lambda kv: kv[1], reverse=True
        )[:5]
    ]
    breaching = [
        k for k, t in timings.items() if k in bars and t > bars[k]
    ]
    retime = list(dict.fromkeys(top5 + breaching))
    isolated: dict[str, float] = {}
    queries = entrymod.queries()
    for key in retime:
        best = None
        for i in range(4):
            t0 = time.perf_counter()
            queries[key](spark, sf_dir).toPandas()
            dt = time.perf_counter() - t0
            if i > 0:
                best = dt if best is None else min(best, dt)
        isolated[key] = round(best, 4)
        timings[key] = isolated[key]

    drift = {
        k: {"sec": timings[k], "bar": round(bars[k], 4)}
        for k in sorted(bars)
        if timings[k] > bars[k]
    }
    total = round(sum(timings.values()), 4)
    detail = {
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "isolated": isolated,
        "drift": drift,
        "index_build_sec": index_build,
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
    }
    detail_path = os.path.join(repo_dir, "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # Append-style history (VERDICT r8 item 4): one self-contained JSON
    # line per bench run with the FULL per-key map, git HEAD, and a
    # wall-clock stamp — two rounds diff with two json.loads calls.
    import datetime
    import subprocess

    try:
        head = subprocess.run(
            ["git", "-C", repo_dir, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except Exception:
        head = ""
    hist = dict(detail)
    hist["git_head"] = head
    hist["utc"] = datetime.datetime.now(
        datetime.timezone.utc
    ).isoformat(timespec="seconds")
    with open(os.path.join(repo_dir, "BENCH_HISTORY.jsonl"), "a") as f:
        f.write(json.dumps(hist) + "\n")
    print(json.dumps(detail), file=sys.stderr)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    # keep this line SHORT — the driver's tail buffer truncates long lines
    print(
        json.dumps(
            {
                "metric": "suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "isolated": isolated,
                "drift": sorted(drift),
                "sf": sf,
                "n_queries": len(timings),
                "detail": "BENCH_DETAIL.json",
                "history": "BENCH_HISTORY.jsonl",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

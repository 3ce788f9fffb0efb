"""Bless a per-key bench baseline (VERDICT r9 item 3).

Reads the most recent BENCH_HISTORY.jsonl runs at the CURRENT key set
(same n_queries, same key names), requires at least MIN_RUNS of them,
and writes their per-key MEDIAN seconds to BASELINE_KEYS.json under
``by_cpus[<the runs' core count>]``, keeping the other core counts'
sections blessed at the same scale factor.  Those medians become the
regression bar for every key that has no explicit BASELINE.md row —
bench.py re-times (and then reports as "drift") any key breaching 2x of
its blessed median at the run's sf and core count.

Usage:
    python tools/bless_baseline.py            # bless from last >=3 runs
    python tools/bless_baseline.py --runs 5   # use up to 5 newest runs

Re-bless deliberately (after a real plan improvement or a new key),
never automatically — a silent re-bless would ratchet the bar to
whatever the code currently does and hide regressions.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_RUNS = 3


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5,
                    help="max newest history runs to use (default 5)")
    args = ap.parse_args()

    hist_path = os.path.join(REPO, "BENCH_HISTORY.jsonl")
    with open(hist_path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    if not runs:
        print("no BENCH_HISTORY.jsonl runs", file=sys.stderr)
        return 1

    # Only runs at the CURRENT key set are comparable — a run missing
    # (or preceding) a key would silently skew that key's median.
    current_keys = set(runs[-1]["queries"])
    usable = [r for r in runs if set(r["queries"]) == current_keys]
    # ... and at the newest run's CORE COUNT: medians mixing a 32-core
    # and an 8-core run would be bars for neither configuration.
    newest_cpus = usable[-1].get("cpus")
    if newest_cpus is None:
        print("the newest history run records no cpus", file=sys.stderr)
        return 1
    usable = [r for r in usable if r.get("cpus") == newest_cpus]
    usable = usable[-args.runs:]
    if len(usable) < MIN_RUNS:
        print(
            f"only {len(usable)} history runs at the current "
            f"{len(current_keys)}-key set and cpus={newest_cpus}; need "
            f">= {MIN_RUNS}. Run `python bench.py` again and re-bless.",
            file=sys.stderr,
        )
        return 1

    sf = usable[-1].get("sf")
    out_path = os.path.join(REPO, "BASELINE_KEYS.json")
    by_cpus: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            prev = json.load(f)
        if prev.get("sf") == sf:
            by_cpus = dict(prev.get("by_cpus") or {})
    by_cpus[str(int(newest_cpus))] = {
        "blessed_utc": datetime.datetime.now(
            datetime.timezone.utc
        ).isoformat(timespec="seconds"),
        "n_runs": len(usable),
        "git_heads": [r.get("git_head", "") for r in usable],
        "run_utcs": [r.get("utc", "") for r in usable],
        "keys": {
            k: round(statistics.median(r["queries"][k] for r in usable), 4)
            for k in sorted(current_keys)
        },
    }
    out = {
        "sf": sf,
        "rule": "bench.py flags any key whose best-of-3 exceeds "
                "max(2 * median_seconds, 0.05s) of by_cpus[<its cpus>]; "
                "BASELINE.md rows take precedence where they exist",
        "by_cpus": by_cpus,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=False)
    print(
        f"blessed {len(current_keys)} keys from {len(usable)} runs at "
        f"cpus={newest_cpus} -> {out_path} (by_cpus: {sorted(by_cpus)})"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Run one workload over several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of
its values, as a share of their median, next to the metric's bound.

    python3 perfbench/spread.py --workload query_core --seeds 10

Every run must also be correct.  Exits non-zero if a run fails or a
spread (other than setup_s's) exceeds a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    ok = True
    for seed in range(args.first_seed, args.first_seed + args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]),
                               "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        ok &= proc.returncode == 0 and out["correct"]
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: rc={proc.returncode} wall={wall:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        steady = m["name"] == "setup_s" or spread < m["bound"] / 3
        ok &= steady
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}, spread "
              f"{spread:.3f} (bound {m['bound']}){'' if steady else '  UNSTEADY'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

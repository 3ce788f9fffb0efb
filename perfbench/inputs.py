"""Write one workload's seeded inputs and the answers its checks compare
against, in a process of its own:

    python3 perfbench/inputs.py --workload query_core --seed 1 --size full \
        --work .perfbench/work/x [--tables DIR]

``run.py`` runs this before it starts Spark, so neither the generators
nor the DuckDB oracle count in the run's peak memory.  The answers go to
``<work>/inputs.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", choices=("full", "tiny"), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--tables", default=None)
    args = ap.parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench import workloads

    wl = workloads.make(args.workload)
    out = wl.make_inputs(ROOT, args.work, args.seed, args.size, args.tables)
    with open(os.path.join(args.work, "inputs.json"), "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())

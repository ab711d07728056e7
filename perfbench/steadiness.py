"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed for each workload (untraced, one run at a
time) and prints, per metric, the median over the runs and the distance
between the first and third quartile as a share of that median, next to
the metric's bound from ``BENCHMARK.json``.

    python3 perfbench/steadiness.py [--seeds 10] [--first-seed 1] [workload ...]
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
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    report = {}
    for name in names:
        values: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.time()
            proc = subprocess.run(
                [*bench["command"], "--workload", name, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if not result["correct"]:
                print(f"{name} seed {seed}: incorrect output", file=sys.stderr)
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{name} seed {seed}: {time.time() - t0:.1f}s wall, "
                  f"{result['attempted']} attempted, {result['failed']} failed",
                  file=sys.stderr, flush=True)
        rows = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            rows[k] = {"median": med, "spread": (q3 - q1) / med, "bound": bounds[k],
                       "values": vs}
            print(f"{name:14s} {k:14s} median {med:10.4f} spread {rows[k]['spread']:.3f}"
                  f" bound {bounds[k]}", flush=True)
        report[name] = rows
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())

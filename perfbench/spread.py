"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload sql_query --seeds 1-10 [--seconds 8] [--trace 0]

For every metric: the median over the runs and the quartile spread
(Q3 − Q1) / median with quartiles from ``statistics.quantiles(n=4)``, next
to a third of the metric's bound from ``BENCHMARK.json`` (the steadiness
target). Also prints each run's wall time, so the cost of an acceptance
check's ``4 + 22 × workloads`` runs can be estimated. Runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls, failed = [], 0
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            failed += 1
            continue
        res = json.loads(lines[-1])
        failed += res["failed"] > 0
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: wall {walls[-1]:.1f} s  correct={res['correct']}  "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                         if k in bounds or args.trace), flush=True)
    print(f"\n{args.workload}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s "
          f"max {max(walls):.1f} s, runs with failures: {failed}")
    for name, xs in values.items():
        if len(xs) < 2:
            continue
        med, spread = statistics.median(xs), quartile_spread(xs)
        target = bounds[name] / 3 if name in bounds else None
        flag = "" if target is None or spread < target else "  <-- above bound/3"
        print(f"  {name:28s} median {med:12.5g}  spread {spread:7.4f}"
              + (f"  (bound/3 {target:.4f}){flag}" if target else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

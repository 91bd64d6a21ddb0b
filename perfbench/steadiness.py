"""Run the benchmark on several seeds and summarize each metric's spread.

    python3 perfbench/steadiness.py --first-seed 100 --out perfbench/results/set_a.json

For every workload in BENCHMARK.json it makes ten untraced runs, each
with its own seed, plus one traced run, and writes per
workload and metric the values, median, quartiles and spread (the
distance between the quartiles as a share of the median), the quantity
the benchmark's bounds are checked against, and every run's job times.
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
RUNS = 10


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    return {"seed": seed, "wall_s": wall, "summary": json.loads(lines[-2]),
            "result": json.loads(lines[-1])}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    report = {}
    for wl in (w["name"] for w in bench["workloads"]):
        runs = [one_run(wl, args.first_seed + i, bench["run_seconds"], 0) for i in range(RUNS)]
        traced = [one_run(wl, args.first_seed + 1000, bench["run_seconds"], 1)]
        report[wl] = {
            "failed": sum(r["result"]["failed"] for r in runs + traced),
            "attempted": sum(r["result"]["attempted"] for r in runs + traced),
            "correct": all(r["result"]["correct"] for r in runs + traced),
            "run_wall_s": spread([r["wall_s"] for r in runs]),
            "jobs_s": [r["summary"]["jobs_s"] for r in runs],
            "metrics": {
                m["name"]: spread([r["result"]["metrics"][m["name"]]["value"] for r in runs])
                for m in bench["end_to_end"]
            },
            "trace.overhead_frac": [r["result"]["metrics"]["trace.overhead_frac"]["value"]
                                    for r in traced],
            "traced_layers": [r["result"]["metrics"] for r in traced],
        }
        print(json.dumps({wl: {k: v["spread"] for k, v in report[wl]["metrics"].items()}}),
              flush=True)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

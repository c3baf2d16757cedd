"""Steadiness check: run one workload on several seeds and report, per
metric, the median, the quartiles and the spread (q3 - q1) / median.

    python3 perfbench/steady.py --workload core12_mix --seeds 1-10

Run from the repository root; runs are sequential, untraced, and measure
``BENCHMARK.json``'s ``run_seconds``.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    runs = []
    for seed in seeds(args.seeds):
        start = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        run = {
            "seed": seed,
            "process_s": time.time() - start,
            "info": json.loads(lines[-2])["run"],
            "result": json.loads(lines[-1]),
        }
        runs.append(run)
        vals = {k: round(v["value"], 4) for k, v in run["result"]["metrics"].items()}
        print(f"seed {seed} ({run['process_s']:.1f} s, correct={run['result']['correct']}, "
              f"load1 {run['info']['load1_start']:.2f}): {vals}", flush=True)
    table = {
        name: summary([r["result"]["metrics"][name]["value"] for r in runs])
        for name in runs[0]["result"]["metrics"]
    }
    print(f"\n{'metric':32s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s}")
    for name, s in table.items():
        print(f"{name:32s} {s['median']:10.4f} {s['q1']:10.4f} {s['q3']:10.4f} {s['spread']:7.3f}")
    return 0 if all(r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())

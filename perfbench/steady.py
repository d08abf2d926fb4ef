#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/steady.py --workloads batch_sql stream_paced \
        --seeds 1 2 3 4 5 --trace 0 --out steady.json

For every workload and metric it reports the median, the first and
third quartiles (``statistics.quantiles(values, n=4)``) and the spread,
``(q3 - q1) / median``.  Runs go one after another, never in parallel.
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


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed ({proc.returncode}):\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench"], time.time() - t0


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else 0.0,
        "values": values,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    report: dict = {}
    for workload in args.workloads:
        runs = []
        for seed in args.seeds:
            line, stamp, wall = run_once(workload, seed, args.seconds, args.trace)
            runs.append({"seed": seed, "wall_s": wall, "result": line, "stamp": stamp})
            print(workload, seed, f"{wall:.1f}s", {k: round(v["value"], 4) for k, v in line["metrics"].items()
                                                  if args.trace == 0}, flush=True)
        names = runs[0]["result"]["metrics"]
        report[workload] = {
            "metrics": {
                m: summarise([r["result"]["metrics"][m]["value"] for r in runs]) for m in names
            },
            "runs": runs,
        }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for workload, rep in report.items():
        for m, s in rep["metrics"].items():
            if args.trace == 0:
                print(f"{workload:15s} {m:16s} median {s['median']:.4f} spread {s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

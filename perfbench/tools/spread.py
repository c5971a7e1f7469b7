#!/usr/bin/env python3
"""Runs the benchmark several times with different seeds and reports, per
metric, the median and the interquartile range as a share of the median.

    python3 perfbench/tools/spread.py --workload catalog --runs 5 --seconds 12

Each run is a separate `perfbench/run.py` process, one after another.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    values, walls = {}, []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(args.seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        walls.append(time.time() - t0)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        res = json.loads(last) if last.startswith("{") else {}
        print(f"seed {seed}: exit {p.returncode}, {walls[-1]:.1f} s, "
              f"correct={res.get('correct')}", flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    for k, vs in sorted(values.items()):
        med = statistics.median(vs)
        if len(vs) >= 2:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
        else:
            spread = float("nan")
        print(f"{k:40s} median {med:14.4f}  iqr/median {spread:7.4f}  "
              f"min {min(vs):.4f} max {max(vs):.4f}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed, and
print the median, quartiles and spread of every metric.

Usage (from the repository root):
  python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]
                              [--seconds S] [--trace 0|1]

Spread is (Q3 - Q1) / median with Python's statistics.quantiles(n=4), the
same figure the bounds in BENCHMARK.json are set against: a metric is
steady when its spread is below a third of its bound. Also prints the
share of failed operations and the wall time of each run.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values, walls, shares = {}, [], []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        r = json.loads(p.stdout.strip().splitlines()[-1])
        if not r["correct"]:
            sys.exit(f"seed {seed}: incorrect output\n{p.stderr[-2000:]}")
        shares.append(f"{r['failed']}/{r['attempted']}")
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s wall, failed {shares[-1]}, "
              + ", ".join(f"{k} {m['value']:.4g}" for k, m in r["metrics"].items()),
              file=sys.stderr)

    print(f"{a.workload}: {a.runs} runs, seeds {a.first_seed}..{a.first_seed + a.runs - 1}, "
          f"run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
          f"failed {sorted(set(shares))}")
    print(f"{'metric':40s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0], 0, v[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:40s} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} "
              f"{'' if b is None else b:>6}")


if __name__ == "__main__":
    main()

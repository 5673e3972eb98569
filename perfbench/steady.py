#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly, one seed per run, and
print per metric the median, the quartiles and the spread
(Q3 - Q1) / median beside the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload motor_ingest ...] [--first-seed 1]

A spread below a third of the bound is steady. The share of failed
operations must be the same in every run. Each run's wall-clock cost is
printed too: a full evaluation (4 + 22 runs per workload, two builds)
has a time budget (README, Budget).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        values, shares, costs = {}, set(), []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", str(a.trace)], cwd=ROOT, capture_output=True, text=True)
            costs.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            shares.add(f"{r['failed']}/{r['attempted']}")
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {costs[-1]:.0f}s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        print(f"\n{w}: failed/attempted per run {sorted(shares)}; run cost median "
              f"{statistics.median(costs):.0f}s max {max(costs):.0f}s")
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(k)
            verdict = "" if b is None else ("steady" if spread < b / 3 else "NOT steady") + f" (bound {b})"
            print(f"  {k:28s} median {med:<12.5g} q1 {q1:<12.5g} q3 {q3:<12.5g} spread {spread:.3f} {verdict}")
        print(flush=True)


if __name__ == "__main__":
    main()

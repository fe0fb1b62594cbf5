#!/usr/bin/env python3
"""Steadiness check: run one workload k times on this tree, one seed per
run, and print each metric's median, quartiles and spread.

    python3 perfbench/steady.py --workload decree_dashboard --runs 10 [--seed0 1]

Every run is untraced and measures for BENCHMARK.json's run_seconds, the
run length the bounds apply to. Spread is (Q3 - Q1) / median with the
quartiles of Python's statistics.quantiles(values, n=4), the figure
BENCHMARK.json's bounds are compared with. The wall-time metrics are
net of hypervisor steal; the same figures before that correction, from
each run's conditions line, print below them with a _raw suffix. Runs
are sequential; each prints a one-line summary to stderr as it finishes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    runs = []
    for seed in range(a.seed0, a.seed0 + a.runs):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: run failed (exit {p.returncode})", file=sys.stderr)
            continue
        cond = json.loads(lines[-2])["conditions"]
        res = json.loads(lines[-1])
        runs.append((seed, cond, res))
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} steal={cond['steal_share']:.4f} "
              f"load={cond['load_avg_start']}-{cond['load_avg_end']}", file=sys.stderr)
    if not runs:
        sys.exit("no run finished")

    steal = [c["steal_share"] for _, c, _ in runs]
    load = [c["load_avg_start"] for _, c, _ in runs]
    print(f"{a.workload}: {len(runs)} runs, seeds {runs[0][0]}..{runs[-1][0]}, {seconds} s each, "
          f"cores {runs[0][1]['cores']}, source revision {runs[0][1]['source_rev']}")
    print(f"steal share {min(steal):.3f}-{max(steal):.3f}, "
          f"load average at start {min(load):.2f}-{max(load):.2f}")
    print(f"failed {sum(r['failed'] for _, _, r in runs)} of "
          f"{sum(r['attempted'] for _, _, r in runs)} operations; "
          f"all correct: {all(r['correct'] for _, _, r in runs)}")
    print(f"{'metric':16} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    rows = [(name, m["unit"], [r["metrics"][name]["value"] for _, _, r in runs])
            for name, m in runs[0][2]["metrics"].items()]
    rows += [(f"{name}_raw", runs[0][2]["metrics"][name]["unit"],
              [c[f"{name}_raw"] for _, c, _ in runs])
             for name in ("setup_s", "read_p50_ms", "write_p50_ms")
             if f"{name}_raw" in runs[0][1]]
    for name, unit, vals in rows:
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:16} {unit:6} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.4f}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload k times and summarize each metric's spread.

    python3 perfbench/stats.py --workload llm_curation --runs 10 \
        [--first-seed 1] [--seconds 20] [--trace 0]

Each run uses its own seed (first-seed, first-seed+1, ...). For every
metric it prints the median, the quartiles as `statistics.quantiles(v, n=4)`
gives them, and IQR / median, the spread the benchmark's bounds are set
against. Runs go through perfbench/run.py from the current directory.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def spread(values):
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values, units, bad = {}, {}, 0
    for i in range(a.runs):
        seed = a.first_seed + i
        r = subprocess.run([sys.executable, run, "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited {r.returncode}\n{r.stderr[-2000:]}")
        res = json.loads(r.stdout.strip().splitlines()[-1])
        bad += res["failed"]
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
            units[k] = m["unit"]
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()),
              file=sys.stderr)
    print(f"{a.workload}: {a.runs} runs, failed operations {bad}")
    print(f"{'metric':32s} {'unit':6s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s}")
    for k, v in values.items():
        med, q1, q3, rel = spread(v)
        print(f"{k:32s} {units[k]:6s} {med:12.4f} {q1:12.4f} {q3:12.4f} {rel:8.4f}")


if __name__ == "__main__":
    main()

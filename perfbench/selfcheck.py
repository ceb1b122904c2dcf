#!/usr/bin/env python3
"""Determinism self-check of the input generator.

    python3 perfbench/selfcheck.py [--seed 7]

For every workload: generating the same seed twice must give identical
input fingerprints, and the next seed must keep the stated properties
(gen.STATED) within their tolerance: `max_*` is an upper bound, `min_*` a
lower bound, anything else target ± tolerance. Scratch data goes under
$CARGO_TARGET_DIR (default .bench_build)/selfcheck and is removed after.
"""
import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def within(name, value, target, tol):
    if name.startswith("max_"):
        return value <= target
    if name.startswith("min_"):
        return value >= target
    return abs(value - target) <= tol


def selfcheck(seed, root, workloads=tuple(gen.STATED)):
    """Returns a list of problems; empty when every check holds."""
    problems = []
    try:
        for w in workloads:
            a, _ = gen.generate(w, seed, os.path.join(root, "a"))
            b, _ = gen.generate(w, seed, os.path.join(root, "b"))
            if gen.fingerprint(a) != gen.fingerprint(b):
                problems.append(f"{w}: seed {seed} generated twice differs")
            d, truth = gen.generate(w, seed + 1, os.path.join(root, "a"))
            for name, v in gen.properties(w, d, truth).items():
                target, tol = gen.STATED[w][name]
                if not within(name, v, target, tol):
                    problems.append(f"{w}: seed {seed + 1} {name} = {v}, stated {target} ± {tol}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    build = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    problems = selfcheck(a.seed, os.path.join(build, "selfcheck"))
    for p in problems:
        print(p)
    print("selfcheck:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

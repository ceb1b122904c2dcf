#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload api_interactive --seed 1 \
        --seconds 20 --trace 0

Run from the root of a source checkout. It builds the engine and the
harness (perfbench/build.py), generates the seeded inputs and their
oracle once per (workload, seed) (perfbench/gen.py, perfbench/oracle.py),
runs the harness JVM, checks every operation's output, and prints one
JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Build output, inputs and results stay under $CARGO_TARGET_DIR
(default .bench_build) inside the checkout.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("api_interactive", "llm_curation")
WARMUP = 2
# A fixed, pre-touched heap, so that the resident memory outside the heap
# is the JVM's high-water mark minus the heap (see live_mem_mb).
XMX = "2g"


def percentile(values, q):
    """Harrell-Davis estimate of the q-th percentile: a Beta-weighted mean
    of all order statistics. A run's calls are a few dozen of very
    different kinds, so the one or two middle values a plain median takes
    jump between kinds from run to run; the weighted mean does not."""
    xs = sorted(values)
    if not xs:
        raise ValueError("empty sample")
    n, p = len(xs), q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d = 1.0, 0.0
    f = 1.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -((a + m) * (a + b + m) * x) / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-15:
            break
    return front * (f - 1.0)


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, workload, data, out, seconds, trace, tmp):
    jars = build.spark_jars()
    os.makedirs(tmp, exist_ok=True)
    cores = os.cpu_count() or 1
    cmd = (["java"] + build.java_opts() + [
        f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch",
        "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
        "-cp", classes + ":" + ":".join(jars), "graftbench.Main",
        "--workload", workload, "--data", data, "--out", out,
        "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--warmup", str(WARMUP), "--cores", str(cores)])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT,
                           timeout=170)
    if r.returncode != 0:
        raise RuntimeError(f"harness exited {r.returncode}; see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def metric(v, unit):
    return {"value": v, "unit": unit}


def end_to_end(res, input_rows):
    """User-visible metrics of the untraced run. An operation is one public
    call driven to its result; a pass is one round of the workload, which
    reads every input table. A run times a fixed set of calls, so calls
    per second would be rows_per_s times a constant and is not reported."""
    lat = [o["ms"] for o in res["ops"]]
    return {"setup_s": metric(res["setup_s"], "s"),
            "op_p50_ms": metric(percentile(lat, 50), "ms"),
            "op_p95_ms": metric(percentile(lat, 95), "ms"),
            "rows_per_s": metric(input_rows / (statistics.median(res["pass_ms"]) / 1000.0), "1/s"),
            "live_mem_mb": metric(live_mem_mb(res), "MB")}


def live_mem_mb(res):
    """Memory the engine holds: its live heap after the timed passes (after
    a full collection) plus its peak resident memory outside the heap
    (generated classes, buffers, threads). The raw high-water mark would
    mostly be the fixed heap."""
    return res["live_heap_mb"] + res["vmhwm_mb"] - res["heap_committed_mb"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    # an absolute CARGO_TARGET_DIR replaces the root in the join
    bdir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(bdir, exist_ok=True)
    try:
        classes = build.build(root, bdir)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    oracle.TEMP_DIR = os.path.join(bdir, "tmp", "duckdb")
    data, truth = gen.generate(a.workload, a.seed, os.path.join(bdir, "data"))
    expect = oracle.compute(a.workload, data, truth, classes)
    out = os.path.join(bdir, "out", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(classes, a.workload, data, out, a.seconds, a.trace == 1,
                  os.path.join(bdir, "tmp"))
    checked = check.check(a.workload, res, expect, data, out)
    inputs = gen.input_stats(data)

    prov = {"nproc": os.cpu_count(), "local": f"local[{res['cores']}]",
            "xmx": XMX, "jdk": res["java_version"], "spark": res["spark_version"],
            "commit": git_commit(root), "seed": a.seed,
            "warmup_passes": res["warmup_passes"], "passes": len(res["pass_ms"]),
            "ops_timed": len(res["ops"]), "inputs": inputs,
            "unified_memory_mb": res["unified_memory_mb"],
            "vmhwm_mb": res["vmhwm_mb"], "live_heap_mb": res["live_heap_mb"],
            "failures": checked["failures"][:20]}
    if a.trace:
        metrics = {k: metric(v, unit) for k, (v, unit) in
                   check.per_layer(res, checked).items()}
        # tracing overhead: this run's passes against the untraced run of
        # the same seed, when one was made in this checkout
        plain = os.path.join(bdir, "out", f"{a.workload}-{a.seed}-t0", "result.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = statistics.median(json.load(f)["pass_ms"])
            prov["trace_overhead_ms"] = statistics.median(res["pass_ms"]) - base
    else:
        metrics = end_to_end(res, sum(t["rows"] for t in inputs.values()))
    with open(os.path.join(out, "provenance.json"), "w") as f:
        json.dump(prov, f, indent=1)
    print(json.dumps({"provenance": prov}), file=sys.stderr)
    print(json.dumps({"correct": checked["failed"] == 0,
                      "attempted": checked["attempted"],
                      "failed": checked["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Self-test of the benchmark: one traced run of each workload.

    python3 perfbench/tests/selftest.py [--seed N]

Fails (exit 1) when a run exits non-zero, when its result line or run
record lacks any metric named in BENCHMARK.json, when a metric is not a
finite number, when no correctness check ran, or when a check failed.
Takes about five minutes on a 4-core machine.
"""
import argparse
import glob
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    records = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                           "selftest-records")
    errors = []
    for w in [w["name"] for w in spec["workloads"]]:
        shutil.rmtree(records, ignore_errors=True)
        r = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", w, "--seed", str(a.seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "1",
             "--records", records],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        if r.returncode != 0:
            errors.append(f"{w}: run exited {r.returncode}: {r.stderr[-2000:]}")
            continue
        result = json.loads(r.stdout.strip().splitlines()[-1])
        recs = glob.glob(os.path.join(records, "*.json"))
        if len(recs) != 1:
            errors.append(f"{w}: expected one run record, found {len(recs)}")
            continue
        with open(recs[0]) as fh:
            rec = json.load(fh)
        for n in names:
            v = rec["metrics"].get(n)
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                errors.append(f"{w}: metric {n} missing or not a number: {v!r}")
        for m in spec["per_layer"]:
            if m["name"] not in result["metrics"]:
                errors.append(f"{w}: result line lacks {m['name']}")
        ran = sum(r_ for r_, _ in rec["checks"].values())
        if ran == 0:
            errors.append(f"{w}: no correctness check ran")
        if not result["correct"] or rec["failed"]:
            errors.append(f"{w}: checks failed: {rec['checks']}")
        print(f"{w}: {len(rec['metrics'])} metrics, {ran} checks, "
              f"{result['attempted']} operations, {result['failed']} failed")
    shutil.rmtree(records, ignore_errors=True)
    for e in errors:
        print("FAIL " + e)
    print("selftest " + ("failed" if errors else "passed"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run one benchmark measurement of the graft engine.

    python3 perfbench/run.py --workload search_hot|refresh --seed N \
        --seconds S --trace 0|1 [--records DIR]

Builds the engine and the benchmark (perfbench/build.py), runs one workload in
a fresh JVM on local[nproc], checks the engine's answers off the clock, and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The full run record (raw samples,
check counts, extra keys) is kept under DIR (default
.bench_build/records) for perfbench/compare.py.
"""
import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 175


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted but not used: both workloads run a fixed operation sequence,
    # so every run does the same work whatever duration is asked for
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--records", default=None)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    build.build()
    work = os.path.join(build.build_dir(), "work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(work, "record.json")
    try:
        rc, log = build.run_java(
            work, ["--workload", a.workload, "--seed", str(a.seed),
                   "--trace", str(a.trace), "--out", out],
            f"-XX:SharedArchiveFile={build.archive_path()}", RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(build.tail(log))
            fail(f"benchmark JVM ended with {rc}")
        with open(out) as fh:
            rec = json.load(fh)
        spans = out + ".spans.jsonl"
        records = a.records or os.path.join(build.build_dir(), "records")
        os.makedirs(records, exist_ok=True)
        stem = os.path.join(records, f"{a.workload}-t{a.trace}-s{a.seed}-{int(time.time() * 1000)}")
        with open(stem + ".json", "w") as fh:
            json.dump(rec, fh)
        if os.path.exists(spans):
            shutil.copy(spans, stem + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in rec["metrics"]]
    if missing:
        fail(f"run record lacks metrics {missing}")
    checks_ran = sum(r for r, _ in rec["checks"].values())
    correct = rec["failed"] == 0 and checks_ran > 0 and \
        all(f == 0 for _, f in rec["checks"].values())
    result = {
        "correct": correct,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": rec["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

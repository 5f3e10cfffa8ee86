#!/usr/bin/env python3
"""Scaling-curve report: per-query time ratios across two Bench runs.

Usage: python3 tools/scaling.py <bench_small.json> <bench_large.json> [out.json]

Each input is a graft.Bench output line (the target/bench.json copy).
Emits {"sf_small":…, "sf_large":…, "total_ratio":…, "queries":{name:
{"t_small":…, "t_large":…, "ratio":…}}, "flagged":[names with ratio >
FLAG]} — flagged queries must be warm-re-profiled (graft.tools.Explain)
before being called super-linear: single bench passes on a loaded box
show multi-x phantom spikes (see reports/scaling_r7.json for verdicts).
"""
import sys, json

FLAG = 10.0

def t_of(v):
    """Bench entries are either flat seconds or {cold, warm}; compare warm
    (the steady-state number — cold carries one-time JIT/codegen)."""
    return v["warm"] if isinstance(v, dict) else v

def main():
    small, large = (json.load(open(p)) for p in sys.argv[1:3])
    out = sys.argv[3] if len(sys.argv) > 3 else "target/scaling.json"
    qs = {}
    for k in sorted(small["queries"]):
        a, b = t_of(small["queries"][k]), large["queries"].get(k)
        if b is None:
            continue
        b = t_of(b)
        qs[k] = {"t_small": a, "t_large": b,
                 "ratio": round(b / a, 2) if a > 0 else None}
    rep = {
        "sf_small": small["sf"], "sf_large": large["sf"],
        "total_small": round(sum(t_of(v) for v in small["queries"].values()), 1),
        "total_large": round(sum(t_of(v) for v in large["queries"].values()), 1),
        "flag_threshold": FLAG,
        "flagged": sorted([k for k, v in qs.items()
                           if v["ratio"] and v["ratio"] > FLAG],
                          key=lambda k: -qs[k]["ratio"]),
        "queries": qs,
    }
    with open(out, "w") as f:
        json.dump(rep, f, indent=1, sort_keys=True)
    print(f"wrote {out}: {len(qs)} queries, flagged={rep['flagged']}")

if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Rebuild tools/bench_anchor.json — the per-query best-of map
graft.Bench uses to self-refute host-interference spikes (any first
run > 3x its anchor re-runs once and keeps the min).

Usage: python3 tools/make_anchor.py out.json in1.json [in2.json ...]

Inputs are graft.Bench per-query files (the "queries" map of
tools/bench_last_c<cpus>.json). The anchor for each query is the
MINIMUM across all inputs; failed slots (-1.0) are ignored. Feed it
only the named per-query files of a round's official bench runs,
never local runs (the anchor rule in BENCH.md).
"""
import json
import sys


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out, ins = sys.argv[1], sys.argv[2:]
    best = {}
    for path in ins:
        with open(path) as f:
            queries = json.load(f)["queries"]
        for name, sec in queries.items():
            if sec >= 0 and (name not in best or sec < best[name]):
                best[name] = sec
    with open(out, "w") as f:
        json.dump({k: round(v, 3) for k, v in sorted(best.items())},
                  f, indent=0)
    print(f"{out}: {len(best)} queries, best-of sum "
          f"{sum(best.values()):.1f}s from {len(ins)} run(s)")


if __name__ == "__main__":
    main()

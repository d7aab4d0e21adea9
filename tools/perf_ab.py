#!/usr/bin/env python3
"""A/B two graft checkouts on one perfbench workload.

Usage (from anywhere):

  python3 tools/perf_ab.py PARENT_DIR CHANGE_DIR [--workload onepass]
      [--pairs 10] [--seed0 1] [--claim wall_s|none] [--out ab.json]

Pair i runs `python3 perfbench/run.py --workload W --seed <seed0 + i>
--seconds S --trace 0` once in each checkout, where S is BENCHMARK.json's
`run_seconds`, with the same seed on both sides; the parent runs first
in even pairs and the change first in odd ones, so a drift on the box
loads both sides alike. Each checkout builds its own classes on its
first run (perfbench reuses them after that).

For every end-to-end metric BENCHMARK.json declares, it prints each
side's median and quartiles (perfbench/baseline.py's `summary`), the
parent's spread (the distance between its quartiles) and how many pairs
the change won (ties count for neither side). The claimed metric
(--claim) holds only when the change wins at least nine tenths of the
pairs and the medians differ by more than the parent's spread; every other metric is checked against its
bound, as a share of the parent's median, and reads "unresolved" when
the parent's spread is itself wider than the bound (unless every change
run beats every parent run). Nothing under perfbench/ is touched.
Exits 1 if any run is incorrect or fails.
"""
import argparse
import json
import math
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # leave perfbench/ as it is
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench"))
from baseline import summary  # noqa: E402


def run_once(checkout, workload, seed, seconds):
    """One untraced perfbench run; returns its last stdout line's JSON."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {proc.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    s = summary(xs)
    return s["q1"], s["median"], s["q3"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", default="onepass")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--claim", default="wall_s",
                    help="the metric the change claims to improve "
                         "(none: check every metric against its bound)")
    ap.add_argument("--out", help="write every run and the summary here")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    sides = {"parent": args.parent, "change": args.change}
    runs = {"parent": [], "change": []}
    incorrect = 0
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        got = {}
        for side in order:
            line = run_once(sides[side], args.workload, seed, seconds)
            runs[side].append(dict(line, seed=seed))
            incorrect += not line["correct"]
            got[side] = {k: v["value"] for k, v in line["metrics"].items()}
        print(f"pair {i + 1:2d} seed {seed} ({order[0]} first): " + "  ".join(
            f"{m} {got['parent'][m]:.3f} -> {got['change'][m]:.3f}"
            for m in declared), flush=True)

    report = {}
    print(f"\nworkload {args.workload}, {args.pairs} pairs, "
          f"{seconds:g} s runs")
    for name, m in declared.items():
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        lower = m["better"] == "lower"
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        spread = pq[2] - pq[0]
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        if name == args.claim:
            holds = wins >= math.ceil(0.9 * len(p)) and gain > spread
            verdict = "claim holds" if holds else "claim NOT shown"
        else:
            worse = -gain / pq[1] if pq[1] else 0.0
            all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
            holds = worse <= m["bound"]
            if spread / pq[1] > m["bound"] and not all_better:
                verdict = f"unresolved: parent spread wider than bound {m['bound']:g}"
            elif holds:
                verdict = f"within bound {m['bound']:g}"
            else:
                verdict = f"WORSE than bound {m['bound']:g}"
        report[name] = dict(parent=p, change=c, wins=wins,
                            parent_quartiles=pq, change_quartiles=cq,
                            parent_spread=spread, holds=holds)
        print(f"{name} ({m['unit']}): parent median {pq[1]:.3f} "
              f"[q1 {pq[0]:.3f}, q3 {pq[2]:.3f}]  change median {cq[1]:.3f} "
              f"[q1 {cq[0]:.3f}, q3 {cq[2]:.3f}]  "
              f"change {100 * (cq[1] - pq[1]) / pq[1]:+.1f}%  "
              f"parent spread {spread:.3f}  change won {wins}/{len(p)}  "
              f"-> {verdict}")
    print(f"incorrect runs: {incorrect}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(dict(workload=args.workload, pairs=args.pairs,
                           seconds=seconds, claim=args.claim,
                           runs=runs, summary=report), f, indent=1)
    return 1 if incorrect else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run the benchmark repeatedly and summarize it: the seed baseline.

Usage (from the repository root):

  python3 perfbench/baseline.py <out.json> [--runs 10] [--workloads a,b]
                                [--first-seed 1] [--traced 1]

For each workload this makes `--runs` untraced runs, each with its own
seed, then `--traced` traced runs. It writes every run's record plus, per
end-to-end metric, the median, the quartiles and the spread (quartile
distance over median, as the acceptance rule computes it), the per-query
median times, the traced per-layer medians, and the tracing overhead
(traced minus untraced wall_s), under `settings` the run length, seeds
and the UTC start and end of the set.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds, trace):
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False,
                                     dir=os.path.join(ROOT, ".bench_build")) as f:
        path = f.name
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--record", path],
            cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}\n"
                             f"{out.stderr[-2000:]}")
        with open(path) as f:
            return json.load(f)
    finally:
        os.unlink(path)


def utc():
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traced", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in spec["workloads"]])
    report = {"settings": {"run_seconds": spec["run_seconds"], "runs": args.runs,
                           "traced": args.traced, "first_seed": args.first_seed,
                           "started_utc": utc()}}
    for w in names:
        runs = []
        for i in range(args.runs):
            r = one_run(w, args.first_seed + i, spec["run_seconds"], 0)
            runs.append(r)
            print(w, r["seed"], r["correct"],
                  {k: round(v["value"], 4) for k, v in r["metrics"].items()},
                  flush=True)
        traced = [one_run(w, args.first_seed + args.runs + i, spec["run_seconds"], 1)
                  for i in range(args.traced)]
        e2e = {m["name"]: summary([r["metrics"][m["name"]]["value"] for r in runs])
               for m in spec["end_to_end"]}
        e2e["query_p50_s (unbounded)"] = summary([r["query_p50_s"] for r in runs])
        per_query = {}
        for r in runs:
            for q, t in r["per_query"].items():
                per_query.setdefault(q, []).append(t)
        entry = {
            "all_correct": all(r["correct"] for r in runs + traced),
            "end_to_end": e2e,
            "per_query_s": {q: statistics.median(v) for q, v in sorted(per_query.items())},
            "runs": runs,
        }
        if traced:
            layers = {k: statistics.median(r["metrics"][k]["value"] for r in traced)
                      for k in traced[0]["metrics"]}
            layers["trace.overhead_s"] = layers["trace.wall_s"] - e2e["wall_s"]["median"]
            entry["per_layer"] = layers
            entry["traced_runs"] = traced
        report[w] = entry
        for k, s in e2e.items():
            print(f"{w} {k}: median {s['median']:.4f} spread {s['spread']:.4f}", flush=True)
    report["settings"]["finished_utc"] = utc()
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

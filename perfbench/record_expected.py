#!/usr/bin/env python3
"""Record the expected result digests the benchmark checks against.

Usage (from the repository root):

  python3 perfbench/record_expected.py [sf ...]

For each scale factor (default: every workload's, plus the sf0.001 the
self-tests use) this runs every workload query at that scale once, writes
the full results, and runs the repo's DuckDB oracle compare
(tools/compare.py) on them. Only the digests of results that pass the
oracle go into perfbench/expected/sf<sf>.json; a query that fails the
oracle is reported and left out, so the benchmark would count it as
failed. Re-record only when the input tables or a query's intended
output changes, and say so in the change.
"""
import json
import os
import subprocess
import sys
import tempfile

import run

SELFTEST_SF = 0.001


def record(sf, queries, cp, bdir):
    sf_dir = run.data_dir(sf)
    with tempfile.TemporaryDirectory(dir=bdir) as dump:
        result, _ = run.run_harness(
            cp, bdir, sf_dir, [queries] * 3, 0, False, deadline=3600,
            extra=["--dump", dump])
        verdict_file = os.path.join(dump, "verdicts.json")
        subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare.py"),
                        sf_dir, dump, verdict_file], stdout=subprocess.DEVNULL)
        with open(verdict_file) as f:
            verdicts = json.load(f)["queries"]
    digests = {}
    for q in result["passes"][0]["queries"]:
        if q["ok"] and verdicts.get(q["name"], {}).get("pass"):
            digests[q["name"]] = q["digest"]
        else:
            print(f"sf{sf:g}: {q['name']} not recorded "
                  f"(ok={q['ok']}, oracle={verdicts.get(q['name'])}) {q['error']}")
    out = os.path.join(run.HERE, "expected", f"sf{sf:g}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"sf{sf:g}: {len(digests)}/{len(queries)} digests -> {out}")


def main():
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    by_sf = {}
    for wl in workloads.values():
        by_sf.setdefault(wl["sf"], []).extend(wl["queries"])
    by_sf.setdefault(SELFTEST_SF, []).extend(
        q for wl in workloads.values() for q in wl["queries"])
    wanted = [float(a) for a in sys.argv[1:]] or sorted(by_sf)
    bdir = run.build_dir()
    cp = run.ensure_built(bdir)
    for sf in wanted:
        record(sf, list(dict.fromkeys(by_sf[sf])), cp, bdir)


if __name__ == "__main__":
    main()

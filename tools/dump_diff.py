#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/dump_diff.py PARENT_DUMP CHANGE_DUMP

Each dump is a `graft.Verify` output directory: one parquet directory
per query plus oracle_sql.json. For every query in either dump:

  - results: the sha256 of the query's rows, columns sorted by name,
    values normalized with compare.py's `norm`, rows sorted (the
    order-insensitive hash the correctness gate compares);
  - oracle text: byte-equal, whitespace-only different (equal once
    every whitespace run collapses to one space), or token-different.

Prints one line per differing query, then a summary line. Exits 1 when
any result or any oracle token differs (whitespace-only oracle changes
are reported but pass), else 0.
"""
import glob, hashlib, json, os, re, sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare import norm  # noqa: E402


def result_hash(con, dump, name):
    files = sorted(glob.glob(f"{dump}/{name}/*.parquet"))
    if not files:
        return None
    cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(norm(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


def collapse(sql):
    return re.sub(r"\s+", " ", sql).strip()


def oracle_verdict(a, b):
    if a == b:
        return "same"
    if a is None or b is None:
        return "tokens"
    return "whitespace" if collapse(a) == collapse(b) else "tokens"


def queries(dump):
    return {os.path.basename(os.path.dirname(p))
            for p in glob.glob(f"{dump}/*/*.parquet")}


def main(parent, change):
    con = duckdb.connect()
    oracles = [json.load(open(f"{d}/oracle_sql.json")) for d in (parent, change)]
    names = sorted(queries(parent) | queries(change)
                   | set(oracles[0]) | set(oracles[1]))
    n_result = n_tokens = n_ws = 0
    for name in names:
        ha, hb = (result_hash(con, d, name) for d in (parent, change))
        if ha != hb:
            n_result += 1
            print(f"RESULT      {name}: parent={str(ha)[:12]} change={str(hb)[:12]}")
        oa, ob = (o.get(name) for o in oracles)
        verdict = oracle_verdict(oa, ob)
        if verdict == "whitespace":
            n_ws += 1
            print(f"ORACLE-WS   {name}: whitespace-only oracle change")
        elif verdict == "tokens":
            n_tokens += 1
            what = ("oracle tokens differ" if oa is not None and ob is not None
                    else f"oracle only in {'parent' if ob is None else 'change'}")
            print(f"ORACLE-TOK  {name}: {what}")
    print(f"\n{len(names)} queries: {n_result} result diffs, "
          f"{n_tokens} oracle token diffs, {n_ws} whitespace-only oracle diffs")
    return 1 if n_result or n_tokens else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))

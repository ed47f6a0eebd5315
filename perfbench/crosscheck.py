#!/usr/bin/env python3
"""Derives and cross-checks the committed row counts in workloads.json.

Usage (from the root of a checkout):
  python3 perfbench/crosscheck.py [--write] [WORKLOAD ...]

For each workload, runs one pass of its queries on its fixture and
records each query's output row count. Where the program declares an
oracle (`SparkEntry.oracleSql`), DuckDB's `count(*)` over that SQL on
the same fixture must agree. TPC-H queries are also checked on the sf0.1
fixture when their workload reads the scaled one. Prints one line per
query and exits non-zero on any disagreement; with --write (and no
disagreement) the counts replace the workload's expected counts.
"""
import argparse
import json
import os
import subprocess
import sys
import time

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_counts(cp, jvm_opts, queries, data):
    path = os.path.join(run.BUILD, "oracle_sql.json")
    os.makedirs(run.BUILD, exist_ok=True)
    subprocess.run(["java"] + jvm_opts + run.HEAP + ["-cp", cp, "perfbench.Harness",
                    "--dump-oracle", path, ",".join(queries)],
                   check=True, stdout=sys.stderr)
    sql = json.load(open(path))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return {q: con.execute(f"SELECT count(*) FROM ({s})").fetchone()[0]
            for q, s in sql.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--write", action="store_true")
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    run.check_checkout()
    spec = run.load_spec()
    cp, jvm_opts = run.build()
    names = a.workloads or list(spec["workloads"])
    bad = 0
    for name in names:
        w = spec["workloads"][name]
        fixtures = [w["data"]] + (["sf0.1"] if w["data"] != "sf0.1" else [])
        for fx in fixtures:
            wf = dict(w, data=fx)
            res = run.harness(cp, jvm_opts, spec, name, wf, 0, 0, 0,
                              time.time() + 900, {q: -1 for q in w["queries"]})
            got = {q: int(r["rows"]) for q, r in res["queries"].items()}
            oracle = oracle_counts(cp, jvm_opts, list(w["queries"]), run.fixture(spec, fx))
            for q in w["queries"]:
                o = oracle.get(q)
                ok = got[q] >= 0 and (o is None or o == got[q])
                bad += not ok
                print(f"{name} {fx} {q} spark {got[q]} duckdb {'-' if o is None else o}"
                      f"{'' if ok else '  MISMATCH'}", flush=True)
            if a.write and fx == w["data"]:
                w["queries"] = {q: got[q] for q in w["queries"]}
    if a.write and not bad:
        with open(os.path.join(run.BENCH, "workloads.json"), "w") as f:
            json.dump(spec, f, indent=1)
            f.write("\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

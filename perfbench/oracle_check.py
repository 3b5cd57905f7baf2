#!/usr/bin/env python3
"""Cross-check a workload's expected fingerprints against the DuckDB oracle.

Usage (from the root of a checkout):

    python3 perfbench/oracle_check.py --workload suite_sf0.1

Runs every query of the workload once at the workload's scale and writes
each result as parquet, then compares it with the query's DuckDB twin
from `SparkEntry.oracleSql`, with the semantics of
`tools/check_oracle.py`: columns sorted by name, rows sorted, values
compared as rendered strings. It also checks that the written result's
fingerprint equals the one in `perfbench/expected/<workload>.json`, so
the oracle vouches for exactly the output the benchmark expects.

The verdict of each query is stored in that file as "oracle": "pass",
"no-oracle" (the query has no DuckDB twin) or the mismatch. The
benchmark counts a query whose verdict is a mismatch as failed.
"""
import argparse
import json
import os
import sys
import time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import run  # noqa: E402
from check_oracle import canon  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def verdict(con, sql, path):
    got = canon(pd.read_parquet(path))
    want = canon(con.execute(sql).fetchdf())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if not got.equals(want):
        return "value mismatch"
    return "pass"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    wl = run.load_workloads()[args.workload]
    exp_path = os.path.join(HERE, "expected", f"{args.workload}.json")
    with open(exp_path) as f:
        expected = json.load(f)

    cp = run.classpath()
    name = f"oracle-{args.workload}"
    run_dir = os.path.join(run.WORK_DIR, f"{name}-seed0-trace0")
    sql_path = os.path.join(run.WORK_DIR, f"{name}-oracle_sql.json")
    os.makedirs(run.WORK_DIR, exist_ok=True)
    _, recs, run_dir = run.run_jvm(cp, wl, name, 0, 0, 0, time.time() + 600, mode="sink",
                                   extra=("--oracle-sql", sql_path), keep_sink=True)
    with open(sql_path) as f:
        oracle = json.load(f)
    written = {r["query"]: r for r in run.by_type(recs, "timed")}

    con = duckdb.connect()
    data = os.path.join(HERE, wl["data"])
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = 0
    for q in wl["queries"]:
        r = written[q]
        want = expected[q]
        if "error" in r:
            v = f"spark error: {r['error']}"
        elif (r["rows"], r["hash"]) != (want["rows"], want["hash"]):
            v = f"written fingerprint {r['rows']}/{r['hash']} != expected {want['rows']}/{want['hash']}"
        elif q not in oracle:
            v = "no-oracle"
        else:
            try:
                v = verdict(con, oracle[q], os.path.join(run_dir, "sink", q))
            except Exception as e:  # a DuckDB error is a verdict too
                v = f"{type(e).__name__}: {e}"
        want["oracle"] = v
        bad += v not in ("pass", "no-oracle")
        print(f"{'PASS' if v in ('pass', 'no-oracle') else 'FAIL'}  {q} ({r.get('rows')} rows): {v}")
    with open(exp_path, "w") as f:
        json.dump(expected, f, indent=1)
        f.write("\n")
    print(f"== {len(wl['queries']) - bad} agree / {bad} disagree ==")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

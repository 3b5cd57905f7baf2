#!/usr/bin/env python3
"""Freeze the query lists of the benchmark's workloads.

Usage (from the root of a checkout): python3 perfbench/sample.py

Rewrites the "queries" of every workload in perfbench/workloads.json by
that workload's selection rule. The lists are frozen there, so a later
change to the engine's query set does not change a workload. Run it only
to redefine the workloads; then record fresh expected fingerprints.

- stratified (suite_*): the short queries are those whose r15
  `bench_detail.json` time is at most `max_r15_s`. With the workload's
  sample seed, draw `modules` of the operator modules in
  `SparkEntry.queryModules` that have short queries, then one short
  query from each.
- grows (sink_sf0.1): with the sample seed, draw `sample` of the queries
  with at least 1,000 output rows at sf0.01 in `CORRECTNESS_r15.json`
  and an r15 `bench_detail.json` time of at most `max_r15_s`, then add
  the reference ETL pipelines.
"""
import json
import os
import random
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def modules(cp):
    out = os.path.join(run.BUILD_DIR, "modules.json")
    subprocess.run(["java", "-cp", cp, "perfbench.Harness", "--list-modules", out],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def main():
    path = os.path.join(run.HERE, "workloads.json")
    with open(path) as f:
        doc = json.load(f)
    with open(os.path.join(run.ROOT, "bench_detail.json")) as f:
        secs = json.load(f)["queries"]
    with open(os.path.join(run.ROOT, "CORRECTNESS_r15.json")) as f:
        rows = {q: v["spark_rows"] for q, v in json.load(f).items()}
    mods = modules(run.classpath())
    for name, wl in doc["workloads"].items():
        rule = wl["rule"]
        rng = random.Random(rule["sample_seed"])
        if rule["kind"] == "stratified":
            short = {m: sorted(q for q in qs if secs[q] <= rule["max_r15_s"])
                     for m, qs in mods.items()}
            strata = sorted(m for m, qs in short.items() if qs)
            picked = [rng.choice(short[m]) for m in sorted(rng.sample(strata, rule["modules"]))]
        else:
            grows = sorted(q for q in secs if rows.get(q, 0) >= rule["min_rows_sf0.01"]
                           and secs[q] <= rule["max_r15_s"])
            picked = rng.sample(grows, rule["sample"]) + rule["plus"]
        wl["queries"] = sorted(set(picked))
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()

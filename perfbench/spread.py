#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage (from the root of a checkout):

    python3 perfbench/spread.py --workload suite_sf0.001 --seeds 1-10 [--seconds N]

Runs the workload once per seed with tracing off and prints, for each
end-to-end metric, its median, its quartiles and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as
a share of the median, beside a third of the metric's bound in
BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    values = {}
    for seed in seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: run failed with exit {out.returncode}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: run reported incorrect output")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + "  ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{m['name']:<18} median {med:10.4f} {m['unit']:<3} q1 {q1:10.4f} q3 {q3:10.4f}  "
              f"spread {(q3 - q1) / med:.4f}  (bound/3 {m['bound'] / 3:.4f})")


if __name__ == "__main__":
    main()

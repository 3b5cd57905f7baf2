#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload suite_sf0.1 --seed 1 --seconds 13 --trace 0

Builds the engine and the harness from source with sbt the first time
(or whenever a source changed), then runs one benchmark JVM on
``local[nproc]``: one client running the workload's queries one after
another. ``--seed`` picks the order of every pass; the query list of each
workload is frozen in ``perfbench/workloads.json``. ``--seconds`` sets the
number of timed passes from the workload's nominal pass time. Every query
output is checked against the fingerprints in ``perfbench/expected/``.

Prints a readable summary, then, as the last line of stdout, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Each run keeps its records, spans included, under
``perfbench/.work/``.

``--record`` writes the fingerprints a run observes to
``perfbench/expected/<workload>.json`` instead of checking them.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("query_p50_ms", "ms"),
    ("query_geomean_ms", "ms"), ("live_mem_mb", "MB"),
]
PER_LAYER = [
    ("operators.build_ms", "ms"), ("operators.build_jobs", "count"),
    ("operators.build_tasks", "count"), ("operators.build_result_bytes", "bytes"),
    ("plans.plan_ms", "ms"), ("plans.executions", "count"),
    ("plans.audit_flush_ms", "ms"),
    ("exec.action_ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.tasks_per_stage", "ratio"),
    ("exec.ms_per_job", "ms"), ("exec.executor_run_ms", "ms"),
    ("exec.executor_cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.core_busy_frac", "ratio"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_fetch_wait_ms", "ms"),
    ("io.open_ms", "ms"), ("io.input_bytes", "bytes"), ("io.input_records", "count"),
    ("sources.write_ms", "ms"), ("sources.files_written", "count"),
    ("sources.bytes_written", "bytes"), ("sources.write_attempts", "count"),
    ("sources.readback_ms", "ms"),
    ("calib.noop_floor_ms", "ms"), ("calib.cpu_loop_ms", "ms"), ("calib.scan_ms", "ms"),
    ("trace.overhead_ms", "ms"),
]
# Traced counts that are 0 on every correct run: printed, not metrics.
# A violation already fails the run; every job starts inside a span.
ZERO_ON_CORRECT = [("plans.audit_violations", "count"), ("trace.unattributed_jobs", "count")]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)["workloads"]


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build engine and harness if needed; return the runtime classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD_DIR, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export perfbench/Runtime/fullClasspath"]
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as log:
        p = subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=850)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {BUILD_DIR}/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------------ run

def passes(wl, seconds):
    """Timed passes that fill about `seconds` at the workload's nominal pass time."""
    return max(1, round(seconds / wl["nominal_pass_s"]))


def run_jvm(cp, wl, name, seed, seconds, trace, deadline, mode=None, extra=(), keep_sink=False):
    run_dir = os.path.join(WORK_DIR, f"{name}-seed{seed}-trace{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    records = os.path.join(run_dir, "records.jsonl")
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Harness",
        "--data", os.path.join(HERE, wl["data"]), "--work", run_dir, "--out", records,
        "--queries", ",".join(wl["queries"]), "--mode", mode or wl["mode"],
        "--seed", str(seed), "--passes", str(passes(wl, seconds)), "--trace", str(trace), *extra]
    launched = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded its time limit; see {run_dir}/jvm.log")
    if not keep_sink:
        shutil.rmtree(os.path.join(run_dir, "sink"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    if rc != 0:
        fail(f"benchmark JVM exited {rc}; see {run_dir}/jvm.log")
    with open(records) as f:
        recs = [json.loads(l) for l in f if l.strip()]
    if not recs or recs[-1].get("t") != "end":
        fail(f"benchmark JVM ended early; see {run_dir}/jvm.log")
    return launched, recs, run_dir


def by_type(recs, t):
    return [r for r in recs if r["t"] == t]


def one(recs, t):
    return by_type(recs, t)[0]


def check(recs, expected, record):
    """Mark each query execution failed or not; return (attempted, failures).

    Noop mode fingerprints only the first warm-up pass (see Harness); an
    execution without a fingerprint is checked for errors and violations.
    """
    failures = []
    runs = by_type(recs, "warm") + by_type(recs, "timed")
    for r in runs:
        want = expected.get(r["query"])
        why = None
        if "error" in r:
            why = r["error"]
        elif r["violations"]:
            why = f"{r['violations']} PlanAudit violation(s) or audit error(s)"
        elif "hash" not in r:
            pass
        elif not record and want is None:
            why = "no expected fingerprint"
        elif not record and (r["rows"], r["hash"]) != (want["rows"], want["hash"]):
            why = f"fingerprint {r['rows']}/{r['hash']} != expected {want['rows']}/{want['hash']}"
        elif not record and want.get("oracle") not in ("pass", "no-oracle"):
            why = f"DuckDB oracle mismatch at this scale: {want['oracle']}"
        r["failed"] = why is not None
        if why:
            failures.append((r["query"], r["t"], r["pass"], why))
    checked = {r["query"] for r in runs if "hash" in r}
    for q in sorted({r["query"] for r in runs} - checked):
        failures.append((q, "warm", -1, "output never fingerprinted"))
    audit = one(recs, "audit")
    if audit["errors"]:
        failures.append(("*", "audit", 0, f"{audit['errors']} audit-internal error(s)"))
    return len(runs), failures


def end_to_end(recs, launched):
    timed = [r for r in by_type(recs, "timed") if not r["traced"]]
    lat = sorted(r["latency_ms"] for r in timed if "latency_ms" in r)
    walls = [p["wall_ms"] / 1000 for p in by_type(recs, "pass") if not p["traced"]]
    m = {
        "setup_s": one(recs, "setup_done")["epoch_ms"] / 1000 - launched,
        "wall_s": statistics.median(walls),
        "query_p50_ms": statistics.median(lat),
        "query_geomean_ms": math.exp(sum(math.log(max(x, 1e-3)) for x in lat) / len(lat)),
        "live_mem_mb": one(recs, "memory")["live_mb"],
    }
    extra = {"n": len(lat), "failed_frac": sum(r["failed"] for r in timed) / len(timed),
             "peak_rss_mb": one(recs, "end")["peak_rss_mb"]}
    if len(lat) >= 100:
        extra["query_p90_ms"] = statistics.quantiles(lat, n=10)[-1]
    return m, extra


def per_layer(recs):
    spans = by_type(recs, "span")
    traced = [r for r in by_type(recs, "timed") if r["traced"]]
    passes = len({r["pass"] for r in traced})
    cores = one(recs, "end")["cores"]

    def tot(phases, key):
        return sum(s[key] for s in spans if s["phase"] in phases) / passes

    def dur(phases):
        return sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["phase"] in phases) / passes

    def rec_sum(key):
        return sum(r.get(key, 0) for r in traced) / passes

    execp = ("action", "sink")
    allp = ("build", "action", "sink", "readback")
    action_ms, jobs, stages = dur(execp), tot(execp, "jobs"), tot(execp, "stages")
    pass_walls = {True: [], False: []}
    for p in by_type(recs, "pass"):
        pass_walls[p["traced"]].append(p["wall_ms"])
    calib = one(recs, "calib")
    opens = one(recs, "setup_done")["open_ms"]
    return {
        "operators.build_ms": dur(("build",)),
        "operators.build_jobs": tot(("build",), "jobs"),
        "operators.build_tasks": tot(("build",), "tasks"),
        "operators.build_result_bytes": tot(("build",), "result_bytes"),
        "plans.plan_ms": tot(allp, "plan_ms"),
        "plans.executions": tot(allp, "executions"),
        "plans.audit_flush_ms": rec_sum("audit_flush_ms"),
        "plans.audit_violations": rec_sum("violations"),
        "exec.action_ms": action_ms,
        "exec.jobs": jobs,
        "exec.stages": stages,
        "exec.tasks": tot(execp, "tasks"),
        "exec.tasks_per_stage": tot(execp, "tasks") / max(stages, 1),
        "exec.ms_per_job": action_ms / max(jobs, 1),
        "exec.executor_run_ms": tot(execp, "run_ms"),
        "exec.executor_cpu_ms": tot(execp, "cpu_ms"),
        "exec.gc_ms": tot(execp, "gc_ms"),
        "exec.core_busy_frac": tot(execp, "run_ms") / max(action_ms * cores, 1e-9),
        "exec.shuffle_write_bytes": tot(execp, "shuffle_write_bytes"),
        "exec.shuffle_fetch_wait_ms": tot(execp, "fetch_wait_ms"),
        "io.open_ms": statistics.mean(opens.values()),
        "io.input_bytes": tot(("build",) + execp, "input_bytes"),
        "io.input_records": tot(("build",) + execp, "input_records"),
        "sources.write_ms": dur(("sink",)),
        "sources.files_written": rec_sum("files"),
        "sources.bytes_written": rec_sum("bytes"),
        "sources.write_attempts": rec_sum("attempts"),
        "sources.readback_ms": dur(("readback",)),
        "calib.noop_floor_ms": calib["noop_floor_ms"],
        "calib.cpu_loop_ms": calib["cpu_loop_ms"],
        "calib.scan_ms": calib["scan_ms"],
        "trace.overhead_ms": statistics.mean(pass_walls[True]) - statistics.mean(pass_walls[False]),
        "trace.unattributed_jobs": one(recs, "unattributed")["jobs"],
    }


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}: run from the root of a full checkout", 2)
    workloads = load_workloads()
    if args.workload not in workloads:
        fail(f"unknown workload {args.workload}; known: {', '.join(workloads)}", 2)
    wl = workloads[args.workload]

    t_build = time.time()
    cp = classpath()
    deadline = time.time() + RUN_LIMIT_S - (t_build - start)
    launched, recs, run_dir = run_jvm(cp, wl, args.workload, args.seed, args.seconds,
                                      args.trace, deadline)

    exp_path = os.path.join(HERE, "expected", f"{args.workload}.json")
    expected = {}
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            expected = json.load(f)
    attempted, failures = check(recs, expected, args.record)
    if args.record:
        seen = {}
        for r in by_type(recs, "warm") + by_type(recs, "timed"):
            if not r["failed"] and "hash" in r:
                fp = {"rows": r["rows"], "hash": r["hash"]}
                if seen.setdefault(r["query"], fp) != fp:
                    failures.append((r["query"], r["t"], r["pass"], "fingerprint differs between executions"))
        for q, fp in seen.items():
            old = expected.get(q, {})
            same = (old.get("rows"), old.get("hash")) == (fp["rows"], fp["hash"])
            fp["oracle"] = old.get("oracle", "unchecked") if same else "unchecked"
        os.makedirs(os.path.dirname(exp_path), exist_ok=True)
        with open(exp_path, "w") as f:
            json.dump(dict(sorted(seen.items())), f, indent=1)
            f.write("\n")

    print(f"workload {args.workload}  seed {args.seed}  queries {len(wl['queries'])}  "
          f"records {os.path.relpath(run_dir, ROOT)}/records.jsonl")
    for q, kind, p, why in failures:
        print(f"FAILED {q} ({kind} pass {p}): {why}")
    e2e, extra = end_to_end(recs, launched)
    units = dict(END_TO_END)
    for k, v in e2e.items():
        print(f"{k:<20} {v:12.4f} {units[k]}")
    print(f"{'failed_frac':<20} {extra['failed_frac']:12.4f} ratio")
    print(f"{'peak_rss_mb':<20} {extra['peak_rss_mb']:12.4f} MB")
    if "query_p90_ms" in extra:
        print(f"{'query_p90_ms':<20} {extra['query_p90_ms']:12.4f} ms  (n={extra['n']})")
    else:
        print(f"{'query_p90_ms':<20} {'-':>12} ms  (not reported: n={extra['n']} < 100)")
    if args.trace:
        layers = per_layer(recs)
        for k, u in PER_LAYER + ZERO_ON_CORRECT:
            print(f"{k:<30} {layers[k]:16.4f} {u}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()

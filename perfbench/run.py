#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 16 --trace 0

Workloads (perfbench/spec.json holds their query lists and sizes; the
first two are the ones BENCHMARK.json gates):
  curation    LLM-data-curation registry queries: construction-bound
  wine_etl    the wine pipeline: extract, transform, validate, Derby load,
              cleanup
  relational  TPC-H-shaped registry queries: execution- and shuffle-bound

Each run builds the program if its sources changed, generates the inputs
from --seed, starts one JVM (`local[<cores>]`, graft.Bench's session conf)
that sets up several times and then runs whole passes, closed loop with
one client, until --seconds have elapsed. Every output is checked: each
registry query's row count on every call and its full digest once
against the DuckDB oracle, and the wine load's Derby row count and
validation report against the generator's counts. The last stdout line is
the JSON result; --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones and writes the span tree to .perfbench/traces/. All
scratch state lives in a per-run directory under .perfbench/ that is
deleted at exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import digest  # noqa: E402
import gen  # noqa: E402

with open(os.path.join(HERE, "spec.json")) as f:
    SPEC = json.load(f)
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def order(seed, n_ops, pass_index):
    """The op order of one pass: a permutation fixed by seed and pass."""
    return [int(i) for i in
            np.random.default_rng([seed, 1000, pass_index]).permutation(n_ops)]


def metric(value, unit):
    return {"value": value, "unit": unit}


def run_jvm(args, run_dir, data_dir, ops):
    n_ops = max(1, len(ops))
    orders = os.path.join(run_dir, "orders.txt")
    with open(orders, "w") as f:
        for p in range(SPEC["setups"] + 1000):
            f.write(",".join(map(str, order(args.seed, n_ops, p))) + "\n")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    trace_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    spans = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl")
    # a fixed heap, so that the collector's behaviour, and with it the
    # timings, does not depend on how far G1 has grown the heap; and JIT
    # thresholds at a fifth of their defaults: on a 4-vCPU VM the wine
    # pipeline was still speeding up 15 s into the timed loop with the
    # defaults, and was steady after about 7 s with these
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:CompileThresholdScaling=0.2",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}/derby",
           f"-Dderby.stream.error.file={run_dir}/derby.log"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            f"workload={args.workload}", f"data={data_dir}", f"run={run_dir}",
            f"ops={','.join(ops)}", f"orders={orders}",
            f"seconds={args.seconds}", f"setups={SPEC['setups']}",
            f"trace={args.trace}", f"out={run_dir}/result.json",
            f"spans={spans}"]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                cwd=run_dir, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = f"a timeout after {JVM_TIMEOUT_S} s"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.exists(f"{run_dir}/result.json"):
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: the JVM exited with {rc}")
    if args.trace:
        sys.stderr.write(f"perfbench: spans written to {spans}\n")
    return json.load(open(f"{run_dir}/result.json"))


def check_registry(res, run_dir, data_dir, ops):
    """Every op's row count against the oracle's; every query's digest
    once. Returns (attempted, failed)."""
    oracle_sql = json.load(open(os.path.join(run_dir, "out", "oracle_sql.json")))
    missing = [q for q in ops if q not in oracle_sql]
    if missing:
        raise SystemExit(f"perfbench: no oracle SQL for {missing}")
    want = digest.oracle_digests(data_dir, oracle_sql)
    failed = 0
    for q in ops:
        got = digest.engine_digest(os.path.join(run_dir, "out", q))
        if got != want[q]:
            sys.stderr.write(f"perfbench: {q} digest {got} != oracle {want[q]}\n")
            failed += 1
    for r in res["ops"]:
        if r["error"] is not None or r["rows"] != want[r["name"]][0]:
            sys.stderr.write(f"perfbench: {r['name']} pass {r['pass']} returned "
                             f"{r['rows']} rows, oracle {want[r['name']][0]}\n")
            failed += 1
    return len(ops) + len(res["ops"]), failed


def check_wine(res, expected):
    want = dict(expected["violations"], __n_rows=expected["rows"],
                __derby_rows=expected["rows"])
    failed = 0
    for r in res["ops"]:
        if r["error"] is not None or r["rows"] != expected["rows"] or r["check"] != want:
            sys.stderr.write(f"perfbench: wine pass {r['pass']}: rows {r['rows']}, "
                             f"report {r['check']} != expected {want}\n")
            failed += 1
    return len(res["ops"]), failed


# Metric name -> unit. END_TO_END is what --trace 0 prints; --trace 1
# prints LAYER (measured per traced pass in the JVM) and LAYER_EXTRA.
END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s"}
LAYER = {
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "operators.stage_dirs": "count", "operators.stage_bytes": "bytes",
    "operators.stage_bytes_live": "bytes",
    "catalyst.plan_s": "s",
    "execution.wall_s": "s", "execution.jobs": "count",
    "execution.stages": "count", "execution.tasks": "count",
    "execution.tasks_per_stage": "ratio", "execution.task_s": "s",
    "execution.task_cpu_s": "s", "execution.eff_cores": "ratio",
    "execution.shuffle_read_bytes": "bytes",
    "execution.shuffle_write_bytes": "bytes",
    "execution.spill_bytes": "bytes", "execution.gc_s": "s",
    "pipeline.extract_s": "s", "pipeline.transform_s": "s",
    "pipeline.validate_s": "s", "pipeline.load_s": "s",
    "pipeline.cleanup_s": "s",
    "sinks.rows_written": "count", "sinks.rows_per_s": "1/s",
    "trace.coverage": "ratio",
}
LAYER_EXTRA = {"operators.sessioncache_build_s": "s", "canary_s": "s",
               "trace_overhead": "ratio", "heap_live_mb": "MB",
               "rss_peak_mb": "MB"}


def end_to_end(res):
    """Medians over the whole passes of the timed loop. On wine_etl a pass
    is one pipeline run, so query_p50_s there is pass_s again."""
    walls = [r["wall"] for r in res["ops"] if r["pass"] >= 0]
    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "pass_s": statistics.median(p["wall"] for p in res["passes"]),
        "query_p50_s": statistics.median(walls),
    }
    return {n: metric(v, END_TO_END[n]) for n, v in values.items()}


def per_layer(res):
    """Medians over the traced passes, plus the three context figures."""
    traced = [p for p in res["passes"] if p["kind"] == "traced"]
    untraced = [p for p in res["passes"] if p["kind"] == "untraced"]
    values = {n: statistics.median(p["layer"][n] for p in traced) for n in LAYER}
    # first-touch cost of the session-amortized artifacts: each op's set-up
    # median above its untraced steady-state median, summed over ops
    steady_passes = {p["pass"] for p in untraced}
    setup, steady = {}, {}
    for r in res["ops"]:
        if r["pass"] < 0:
            setup.setdefault(r["name"], []).append(r["wall"])
        elif r["pass"] in steady_passes:
            steady.setdefault(r["name"], []).append(r["wall"])
    values["operators.sessioncache_build_s"] = sum(
        statistics.median(setup[n]) - statistics.median(steady[n]) for n in steady)
    values["canary_s"] = statistics.median(p["canary"] for p in res["passes"])
    # memory, as context: what the program retains varies with the seed and
    # with the op that ran last, and the resident set follows the fixed heap
    values["heap_live_mb"] = res["heap_live_mb"]
    values["rss_peak_mb"] = res["rss_peak_mb"]
    values["trace_overhead"] = (statistics.median(p["wall"] for p in traced) /
                                statistics.median(p["wall"] for p in untraced))
    units = dict(LAYER, **LAYER_EXTRA)
    return {n: metric(v, units[n]) for n, v in values.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = SPEC["workloads"][args.workload]

    build.build()
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        data_dir = os.path.join(run_dir, "data")
        os.makedirs(data_dir)
        gen.tables(data_dir, args.seed, spec["sf"])
        ops = spec.get("queries", [])
        if args.workload == "wine_etl":
            expected = gen.wine(os.path.join(data_dir, "wine.json"), args.seed,
                                spec["wine_rows"])
        res = run_jvm(args, run_dir, data_dir, ops)
        if args.workload == "wine_etl":
            attempted, failed = check_wine(res, expected)
        else:
            attempted, failed = check_registry(res, run_dir, data_dir, ops)
        timed = sum(r["pass"] >= 0 for r in res["ops"])
        print(f"perfbench: {args.workload} seed {args.seed}: {timed} timed ops "
              f"in {len(res['passes'])} passes, {res['cpus']} cores")
        metrics = per_layer(res) if args.trace else end_to_end(res)
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

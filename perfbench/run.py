#!/usr/bin/env python3
"""Benchmark of the gmall topology and the declared batch suite.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload stream_steady|stream_drain|batch_suite \
      --seed N --seconds S --trace 0|1

Builds the program and the benchmark JVM from source on first use (sbt,
offline), generates the seeded input, runs the benchmark JVM, checks every output
against a reference, and prints one JSON object as the last line:
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones, a layer report goes to stdout before that line,
and spans and per-batch/per-job records go to .bench_build/trace/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from pb import build, check, gen, metrics, report  # noqa: E402

WORKLOADS = ("stream_steady", "stream_drain", "batch_suite")
DRAIN_ORIGIN_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
JVM_TIMEOUT_S = 170          # a declared workload must end within 180 s
UNDECLARED_TIMEOUT_S = 900   # stream_drain, e.g. on one core


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "params.json")) as f:
        params = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)

    state = os.path.join(ROOT, ".bench_build")
    try:
        classpath = build.ensure(ROOT, HERE, state)
    except build.BuildError as e:
        fail(str(e))
    launch = time.time()  # set-up is timed from here: the build is a one-off

    work = os.path.join(state, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
             "--work", work, "--out", out]
    p = lambda k: gen.param(params, a.workload, k)
    measure_ms = a.seconds * 1000
    records = None
    if a.workload == "stream_steady":
        warm_ms = p("warm_ms")
        records = gen.generate(a.workload, a.seed, params, warm_ms + measure_ms, warm_ms)
        gen.write(records, os.path.join(work, "input.tsv"))
        jargs += ["--input", os.path.join(work, "input.tsv"), "--warm-ms", str(warm_ms),
                  "--measure-ms", str(measure_ms), "--trigger-ms", str(p("trigger_ms"))]
    elif a.workload == "stream_drain":
        records = gen.generate(a.workload, a.seed, params, p("span_ms"))
        gen.write(records, os.path.join(work, "input.tsv"))
        warm = gen.generate(a.workload, a.seed + 1_000_003, params,
                            int(p("span_ms") * p("warm_share")))
        gen.write(warm, os.path.join(work, "warm.tsv"))
        jargs += ["--input", os.path.join(work, "input.tsv"),
                  "--warm-input", os.path.join(work, "warm.tsv"),
                  "--origin-ms", str(DRAIN_ORIGIN_MS)]
    else:
        data = os.path.join(work, "data")
        shutil.copytree(os.path.join(HERE, "data"), data)
        jargs += ["--data", data, "--passes", str(p("passes"))]

    declared_names = {w["name"] for w in declared["workloads"]}
    timeout = JVM_TIMEOUT_S if a.workload in declared_names else UNDECLARED_TIMEOUT_S
    log_path = os.path.join(work, "jvm.log")
    cmd = build.java_command(classpath, work) + ["perfbench.Main"] + jargs
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM timed out; log: " + log_path)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail("benchmark JVM failed (exit %d):\n%s" % (rc, tail))
    with open(out) as f:
        res = json.load(f)

    if a.workload == "batch_suite":
        outcome = check.batch(res, os.path.join(work, "results.jsonl"),
                              os.path.join(HERE, "data"), os.path.join(state, "oracle"))
    else:
        outcome = check.streams(a.workload, res, gen.as_dicts(records), params)
    e2e = metrics.end_to_end(a.workload, res, outcome, launch)

    if a.trace:
        figures = metrics.layer_figures(a.workload, res, outcome)
        layer = metrics.per_layer(figures, declared)
        trace_dir = os.path.join(state, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, "%s-%d.json" % (a.workload, a.seed))
        with open(trace_path, "w") as f:
            json.dump({k: res.get(k) for k in (
                "spans", "batches", "jobs", "job_groups", "run_names", "session_ready_ms",
                "origin_ms", "timed_start_ms", "timed_end_ms", "flushed_ms", "end_ms")}, f)
        report.print_report(a.workload, res, figures, e2e, outcome, trace_path, declared)
        names = declared["per_layer"]
        values = layer
    else:
        names = declared["end_to_end"]
        values = e2e
    if a.workload == "stream_drain":
        print("drain_eps: %.1f" % metrics.drain_eps(res))
    for line in outcome["mismatches"][:50]:
        print("mismatch: " + line)
    runs = os.path.join(state, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, "%s-%d.json" % (a.workload, a.seed)), "w") as f:
        json.dump(dict(res, fresh_s=outcome["fresh"]), f)
    if outcome["failed"] == 0:
        shutil.rmtree(work, ignore_errors=True)
    else:
        print("perfbench: outputs kept for inspection in " + work, file=sys.stderr)
    result = {
        "correct": outcome["failed"] == 0,
        "attempted": outcome["attempted"],
        "failed": outcome["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()

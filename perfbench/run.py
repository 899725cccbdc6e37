#!/usr/bin/env python3
"""Changelog benchmark: run one workload of the quad-log engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload bootstrap_dump --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM on local[nproc], and prints one JSON object as the
last line of standard output: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer metrics (the traced run also writes its spans to
<build dir>/perfbench/spans/). Progress and engine logs go to standard error.
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 175


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    cp, jsa = build.build()
    base = build.build_dir()
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    spans = os.path.join(base, "spans", f"{a.workload}-seed{a.seed}.json")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"] + build.JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-XX:SharedArchiveFile={jsa}",
        "-cp", cp, "graft.perfbench.PerfMain",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--result", result, "--spans", spans,
        "--cpus", str(cpus)]
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=build.jvm_env())
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
        if code != 0 or not os.path.exists(result):
            raise SystemExit(f"perfbench: run failed (exit {code})")
        with open(result) as f:
            out = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

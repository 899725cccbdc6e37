#!/usr/bin/env python3
"""Summarize a Spark event log by job call site.

Usage:
    python3 tools/eventlog_jobs.py LOG [--jobs A-B] [--list | --gaps] [--top N]

LOG is one event-log file (plain, or zstd-compressed with a `.zst`/`.zstd`
suffix) or a rolling event-log directory. For the jobs in the window (all
jobs, or ids A..B inclusive with `--jobs`) it prints, per call site, the
number of jobs and tasks and the tasks' run, CPU and deserialize seconds,
then the totals and the window's wall time during which no job was running
(from the first job's submission to the last job's completion). `--list`
prints one line per job instead (id, start offset, duration, tasks, call
site), which is how to find the id window of one engine call. `--gaps`
prints one line per job with the time no job was running just before it
(from the latest completion of the jobs submitted before it, in the window),
then the window's total, which is the summary's no-job time: it attributes
that time to the call site that ended each gap.

Getting a log from the benchmark without changing it: SparkConf reads every
`spark.*` JVM system property, so

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:/tmp/ev" \\
        python3 perfbench/run.py --workload incremental_churn --seed 1 --seconds 15 --trace 0

leaves the run's log in /tmp/ev. Spark compresses it with zstd; this script
calls the `zstd` command to read it (`zstd -d` also unpacks it by hand).
Event logging slows a run, so use a logged run for job and task counts,
never for timings.
"""
import argparse
import collections
import json
import os
import subprocess
import sys


def read_lines(path):
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)
                       if f.startswith("events_"))
    else:
        files = [path]
    for f in files:
        if f.endswith((".zst", ".zstd")):
            text = subprocess.run(["zstd", "-dc", f], check=True,
                                  capture_output=True).stdout.decode("utf-8")
        else:
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)


def load(path):
    """-> jobs {id: dict(start, end, site, stages)}, tasks per stage id."""
    jobs = {}
    stage_tasks = collections.defaultdict(lambda: [0, 0.0, 0.0, 0.0])
    for ev in read_lines(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            infos = ev.get("Stage Infos", [])
            props = ev.get("Properties") or {}
            site = props.get("callSite.short")
            if not site and infos:
                # the result stage is created last and carries the call site
                site = max(infos, key=lambda s: s["Stage ID"])["Stage Name"]
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"], "end": None,
                                  "site": site or "?",
                                  "stages": set(ev.get("Stage IDs", []))}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = stage_tasks[ev["Stage ID"]]
            acc[0] += 1
            acc[1] += m.get("Executor Run Time", 0) / 1e3
            acc[2] += m.get("Executor CPU Time", 0) / 1e9
            acc[3] += m.get("Executor Deserialize Time", 0) / 1e3
    return jobs, stage_tasks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("log")
    ap.add_argument("--jobs", help="inclusive job-id window A-B")
    ap.add_argument("--list", action="store_true", help="one line per job")
    ap.add_argument("--gaps", action="store_true",
                    help="one line per job with the no-job time before it")
    ap.add_argument("--top", type=int, default=30, help="call sites shown")
    args = ap.parse_args()

    jobs, stage_tasks = load(args.log)
    if not jobs:
        sys.exit("no jobs in the log")
    lo, hi = min(jobs), max(jobs)
    if args.jobs:
        a, b = args.jobs.split("-")
        lo, hi = int(a), int(b)
    # a stage reused by later jobs ran (or was skipped) under the first job
    # that listed it, so its tasks count there
    owner = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    per_job = collections.defaultdict(lambda: [0, 0.0, 0.0, 0.0])
    for sid, acc in stage_tasks.items():
        if sid in owner:
            tot = per_job[owner[sid]]
            for i in range(4):
                tot[i] += acc[i]
    window = [j for j in sorted(jobs) if lo <= j <= hi]
    if not window:
        sys.exit(f"no jobs with ids in {lo}-{hi}")
    t0 = jobs[window[0]]["start"]

    if args.gaps:
        busy_until, total = None, 0
        for j in sorted(window, key=lambda j: (jobs[j]["start"], j)):
            job = jobs[j]
            gap = 0 if busy_until is None else max(0, job["start"] - busy_until)
            total += gap
            print(f"{j:6d} {(job['start'] - t0) / 1e3:9.3f}s  idle before {gap / 1e3:7.3f}s  "
                  f"{job['site']}")
            end = job["end"] or job["start"]
            busy_until = end if busy_until is None else max(busy_until, end)
        print(f"no job running {total / 1e3:.3f}s before the {len(window)} jobs "
              f"{window[0]}-{window[-1]}")
        return

    if args.list:
        for j in window:
            job = jobs[j]
            dur = (job["end"] - job["start"]) / 1e3 if job["end"] else float("nan")
            print(f"{j:6d} {(job['start'] - t0) / 1e3:9.3f}s {dur:8.3f}s "
                  f"{per_job[j][0]:5d} tasks  {job['site']}")
        return

    sites = collections.OrderedDict()
    for j in window:
        s = sites.setdefault(jobs[j]["site"], [0, 0, 0.0, 0.0, 0.0])
        s[0] += 1
        for i in range(4):
            s[i + 1] += per_job[j][i]
    print(f"{'jobs':>5} {'tasks':>6} {'run_s':>8} {'cpu_s':>8} {'deser_s':>8}  call site")
    ranked = sorted(sites.items(), key=lambda kv: -kv[1][2])
    for site, (n, t, run, cpu, de) in ranked[:args.top]:
        print(f"{n:5d} {t:6d} {run:8.2f} {cpu:8.2f} {de:8.2f}  {site}")
    n = len(window)
    t, run, cpu, de = (sum(per_job[j][i] for j in window) for i in range(4))
    print(f"{n:5d} {int(t):6d} {run:8.2f} {cpu:8.2f} {de:8.2f}  TOTAL jobs {window[0]}-{window[-1]}")

    # wall time inside the window during which no job was running
    spans = sorted((jobs[j]["start"], jobs[j]["end"] or jobs[j]["start"]) for j in window)
    start, end = spans[0][0], max(e for _, e in spans)
    busy, cur_s, cur_e = 0, spans[0][0], spans[0][1]
    for s, e in spans[1:]:
        if s > cur_e:
            busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    busy += cur_e - cur_s
    wall = (end - start) / 1e3
    print(f"wall {wall:.3f}s  no job running {wall - busy / 1e3:.3f}s")


if __name__ == "__main__":
    main()

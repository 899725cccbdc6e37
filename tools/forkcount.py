#!/usr/bin/env python3
"""Count the chmod / ls / stat child processes a command starts, per path.

Usage:
    python3 tools/forkcount.py [--record FILE] [--eventlog LOG [--jobs A-B ...]] [-- CMD ...]

With a command after `--` it runs CMD with counting wrappers for `chmod`,
`ls` and `stat` first on its PATH. Each wrapper appends one line (time,
program, arguments) to the record file and then execs the real program, so
only CMD and its descendants are counted and no kernel tracing is needed.
Hadoop's local filesystem without libhadoop sets every permission by running
`chmod` (`Shell.execCommand`), and a JVM finds it through the PATH it was
started with, so this counts what a Spark run spends on them. Without a
command it reports on an existing record.

The report gives the count per program and path pattern: digit runs become
`#`, temp-name suffixes `*`, UUIDs `<uuid>`, publish graph dirs `<graph>`
and `g_b64=...` dirs `g_b64=*`. What Spark's parquet committer creates (its
`_temporary` trees, the output dirs above them, `_SUCCESS`) is tallied
apart from all other paths.

With a Spark event log (a file or rolling dir; a dir holding several logs
means its newest one) and `--jobs A-B` (inclusive job ids, repeatable) it
reports the calls made from job A's submission until job B+1's (so the
driver-side tail after job B counts), one block per window;
`tools/eventlog_jobs.py LOG --list` finds the ids.
Without `--jobs` it prints the calls per job they fall in. Example, the
churn benchmark:

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:/tmp/ev" \\
        python3 tools/forkcount.py --record /tmp/forks.tsv -- \\
        python3 perfbench/run.py --workload incremental_churn --seed 1 --seconds 15 --trace 0
    python3 tools/forkcount.py --record /tmp/forks.tsv --eventlog /tmp/ev --jobs 88-129
"""
import argparse
import collections
import os
import re
import shlex
import shutil
import stat
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import eventlog_jobs  # noqa: E402

PROGRAMS = ("chmod", "ls", "stat")

# bash: EPOCHREALTIME needs no `date` child; one printf is one append
WRAPPER = """#!/bin/bash
t=${{EPOCHREALTIME/./}}
IFS=$'\\t'
printf '%s\\t%s\\t%s\\n' "${{t:0:13}}" {name} "$*" >> {record}
exec {real} "$@"
"""


def run(record, cmd):
    wrappers = tempfile.mkdtemp(prefix="forkcount-")
    try:
        for name in PROGRAMS:
            real = shutil.which(name)
            if real is None:
                sys.exit(f"forkcount: no {name} on PATH")
            w = os.path.join(wrappers, name)
            with open(w, "w") as f:
                f.write(WRAPPER.format(name=name, record=shlex.quote(record),
                                       real=shlex.quote(real)))
            os.chmod(w, os.stat(w).st_mode | stat.S_IXUSR | stat.S_IXGRP | stat.S_IXOTH)
        env = dict(os.environ)
        env["PATH"] = wrappers + os.pathsep + env.get("PATH", "")
        return subprocess.call(cmd, env=env)
    finally:
        shutil.rmtree(wrappers, ignore_errors=True)


UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
GRAPH = re.compile(r"^[A-Za-z0-9+=]{16,}$")  # a publish sink's base64 graph dir
TMP = re.compile(r"(\.tmp(?:zip)?)[0-9a-f]+$")


def pattern(path):
    parts = []
    for p in UUID.sub("<uuid>", path).split("/"):
        if p.startswith("g_b64="):
            p = "g_b64=*"
        elif GRAPH.match(p):
            p = "<graph>"
        else:
            p = re.sub(r"\d+", "#", TMP.sub(r"\1*", p))
        parts.append(p)
    return "/".join(parts)


def spark_paths(calls):
    """Paths Spark's parquet committer creates: its `_temporary` trees, the
    output dirs they sit in (and the parents it made for them), `_SUCCESS`."""
    dirs = set()
    for _, _, path in calls:
        if "/_temporary" in path:
            d = path[:path.index("/_temporary")]
            while d and d not in dirs:
                dirs.add(d)
                d = os.path.dirname(d)
    return lambda path: ("/_temporary" in path or path in dirs
                         or os.path.basename(path) == "_SUCCESS")


def read_record(record):
    calls = []  # (time_ms, program, path)
    with open(record, encoding="utf-8", errors="replace") as f:
        for line in f:
            fields = line.rstrip("\n").split("\t")
            if len(fields) < 3 or not fields[0].isdigit():
                continue
            calls.append((int(fields[0]), fields[1], fields[-1]))
    return calls


def report(calls, title, is_spark):
    spark = collections.Counter()
    other = collections.Counter()
    for _, prog, path in calls:
        (spark if is_spark(path) else other)[(prog, pattern(path))] += 1
    print(f"== {title}: {len(calls)} calls ({sum(other.values())} outside "
          f"Spark's parquet writes, {sum(spark.values())} inside them)")
    for label, counts in (("outside Spark's parquet writes", other),
                          ("Spark's parquet writes", spark)):
        if not counts:
            continue
        print(f"  -- {label}")
        for (prog, pat), n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"  {n:7d}  {prog:5s}  {pat}")


def newest_log(path):
    if not os.path.isdir(path) or any(f.startswith("events_") for f in os.listdir(path)):
        return path
    entries = [os.path.join(path, f) for f in os.listdir(path)]
    if not entries:
        sys.exit(f"forkcount: no event log in {path}")
    return max(entries, key=os.path.getmtime)


def main():
    argv = sys.argv[1:]
    cmd = []
    if "--" in argv:
        i = argv.index("--")
        argv, cmd = argv[:i], argv[i + 1:]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--record", help="record file (default: a new temp file)")
    ap.add_argument("--eventlog", help="Spark event log file or dir")
    ap.add_argument("--jobs", action="append", default=[],
                    help="inclusive job-id window A-B (repeatable)")
    a = ap.parse_args(argv)
    record = a.record
    code = 0
    if cmd:
        if record is None:
            fd, record = tempfile.mkstemp(prefix="forkcount-", suffix=".tsv")
            os.close(fd)
        open(record, "w").close()
        code = run(os.path.abspath(record), cmd)
        print(f"forkcount: command exited {code}; record {record}", file=sys.stderr)
    elif record is None:
        sys.exit("forkcount: give a command after `--`, or --record of an earlier run")
    calls = read_record(record)
    is_spark = spark_paths(calls)

    if not a.eventlog:
        report(calls, "whole run", is_spark)
        return code
    jobs, _ = eventlog_jobs.load(newest_log(a.eventlog))
    if not jobs:
        sys.exit("forkcount: no jobs in the event log")
    if a.jobs:
        for w in a.jobs:
            lo, hi = (int(x) for x in w.split("-"))
            if lo not in jobs or hi not in jobs:
                sys.exit(f"forkcount: job window {w} not in the log")
            t0 = jobs[lo]["start"]
            t1 = jobs[hi + 1]["start"] if hi + 1 in jobs else jobs[hi]["end"] or jobs[hi]["start"]
            report([c for c in calls if t0 <= c[0] <= t1], f"jobs {w}", is_spark)
        return code
    # each call goes to the latest-submitted job still running at its time
    spans = sorted((j["start"], j["end"] or j["start"], jid) for jid, j in jobs.items())
    per_job = collections.Counter()
    for t, _, _ in calls:
        running = [jid for s, e, jid in spans if s <= t <= e]
        per_job[running[-1] if running else None] += 1
    print(f"{'job':>6} {'calls':>7}  call site")
    for jid in sorted(jobs):
        if per_job[jid]:
            print(f"{jid:6d} {per_job[jid]:7d}  {jobs[jid]['site']}")
    print(f"{'-':>6} {per_job[None]:7d}  (no job running)")
    return code


if __name__ == "__main__":
    sys.exit(main())

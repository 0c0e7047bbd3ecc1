#!/usr/bin/env python3
"""Per-call-site job record of a Spark event log.

    python3 tools/jobs_by_callsite.py <eventlog> [--match SUBSTR]

<eventlog> is one event-log file (plain JSON lines, or `.zstd`, decoded
through `zstd -dc`) or a rolling event-log directory (`eventlog_v2_*`,
whose `events_<n>_*` files are read in order). Prints the jobs of each SQL
execution, each with its call site (Spark's short form, e.g.
`parquet at Dedup.scala:66`; a job Spark's thread pool starts for an
adaptive query stage or a broadcast is named by its SQL execution, marked
`(async)`), wall time and task count, then one summary
line per call site and a total. `--match` keeps only the jobs whose long
call site (the driver stack Spark records per job), or that of their SQL
execution, contains SUBSTR, e.g. `Curate.scala` or the line of the caller
that started an operation.

A log is written by any Spark driver started with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///some/dir`
(SparkConf reads `spark.*` system properties).
"""
import argparse
import collections
import json
import os
import re
import subprocess
import sys


def event_files(path):
    if not os.path.isdir(path):
        return [path]
    files = [f for f in os.listdir(path) if f.startswith("events_")]
    index = lambda f: int(re.match(r"events_(\d+)_", f).group(1))
    return [os.path.join(path, f) for f in sorted(files, key=index)]


def lines(path):
    for f in event_files(path):
        if f.endswith(".zstd") or f.endswith(".zst"):
            out = subprocess.run(["zstd", "-dc", f], check=True, capture_output=True).stdout
            yield from out.decode("utf-8").splitlines()
        elif re.search(r"\.(lz4|lzf|snappy)$", f):
            sys.exit(f"{f}: only plain and zstd event logs are supported")
        else:
            with open(f, encoding="utf-8") as fh:
                yield from fh


def parse(path):
    jobs = {}           # job id -> record
    stage_job = {}      # stage id -> the first job listing it (the one that runs it)
    execs = {}          # execution id -> (description, start, end)
    for line in lines(path):
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            stages = e.get("Stage Infos", [])
            result = max(stages, key=lambda s: s["Stage ID"]) if stages else {}
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"], "end": None,
                "site": result.get("Stage Name", "?"),
                "details": result.get("Details", ""),
                "exec": props.get("spark.sql.execution.id"), "tasks": 0}
            for s in stages:
                stage_job.setdefault(s["Stage ID"], e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            j = stage_job.get(e["Stage ID"])
            if j in jobs:
                jobs[j]["tasks"] += 1
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            execs[str(e["executionId"])] = [e.get("description", ""), e["time"], None,
                                            e.get("details", "")]
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if str(e["executionId"]) in execs:
                execs[str(e["executionId"])][2] = e["time"]
    # AQE query stages and broadcasts run as jobs from Spark's thread pool,
    # whose short call site is a JDK frame: name them by their execution
    for j in jobs.values():
        ex = execs.get(j["exec"])
        if ex is not None and ".java:" in j["site"]:
            j["site"] = ex[0] + " (async)"
    return jobs, execs


def wall(j):
    return (j["end"] - j["start"]) if j["end"] is not None else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog")
    ap.add_argument("--match", default="", help="keep jobs whose long call site contains this")
    args = ap.parse_args()
    jobs, execs = parse(args.eventlog)
    def matches(j):
        ex = execs.get(j["exec"])
        return (args.match in j["details"] or args.match in j["site"]
                or (ex is not None and args.match in ex[3]))
    kept = [j for j in sorted(jobs.values(), key=lambda j: j["id"]) if matches(j)]
    by_exec = collections.OrderedDict()
    for j in kept:
        by_exec.setdefault(j["exec"], []).append(j)
    for ex, js in by_exec.items():
        if ex is None:
            print("no SQL execution")
        else:
            desc, start, end, _ = execs.get(ex, ["?", None, None, ""])
            ms = f"{end - start} ms" if start is not None and end is not None else "? ms"
            print(f"execution {ex}: {desc} ({ms})")
        for j in js:
            print(f"  job {j['id']:>5}  {j['site']:<44} {wall(j):>8.0f} ms  {j['tasks']:>4} tasks")
    sites = collections.OrderedDict()
    for j in kept:
        s = sites.setdefault(j["site"], [0, 0.0, 0])
        s[0] += 1
        s[1] += wall(j)
        s[2] += j["tasks"]
    print()
    print(f"{'call site':<46} {'jobs':>5} {'wall ms':>9} {'tasks':>6}")
    for site, (n, ms, tasks) in sorted(sites.items(), key=lambda kv: -kv[1][1]):
        print(f"{site:<46} {n:>5} {ms:>9.0f} {tasks:>6}")
    span = (max(j["end"] for j in kept if j["end"] is not None) - min(j["start"] for j in kept)
            if kept else 0)
    print(f"{'total':<46} {len(kept):>5} {sum(wall(j) for j in kept):>9.0f} "
          f"{sum(j['tasks'] for j in kept):>6}   (first start to last end: {span} ms)")


if __name__ == "__main__":
    main()

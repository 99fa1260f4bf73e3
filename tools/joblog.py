#!/usr/bin/env python3
"""Print the job and SQL-execution timeline of Spark event logs.

usage: python3 tools/joblog.py EVENTLOG [EVENTLOG ...]

Each EVENTLOG is the uncompressed event log of one JVM, written with
  -Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
  -Dspark.eventLog.dir=DIR
(DIR must exist): a file, or the `eventlog_v2_*` directory of a rolling
log, whose `events_<n>_*` files are read in order. For every log it
prints one line per SQL execution and per job: the start in seconds
after the application started, the duration, the stages and tasks that
ran, and the call site (a job) or the description (a SQL execution).
SQL executions, and jobs outside any, are listed in start order. Each
job of an execution (its `spark.sql.execution.id`) is listed, indented,
under that execution, whenever it started: adaptive query execution
runs its stages as jobs whose call site names no relation, and
concurrent builds interleave their jobs in time. A closing line counts
the executions, the jobs, the stages and the tasks.
"""
import json
import os
import sys


def load(path):
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [e for n in parts for e in load(os.path.join(path, n))]
    with open(path, "rb") as f:
        if f.read(2) in (b"\x1f\x8b", b"LZ", b"(\xb5"):
            sys.exit(f"{path}: compressed; rerun with -Dspark.eventLog.compress=false")
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def timeline(events):
    app_start = None
    jobs, sqls, stage_tasks = {}, {}, {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": None,
                "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                "sql": props.get("spark.sql.execution.id"),
                "site": props.get("callSite.short") or
                        (e.get("Stage Infos") or [{}])[-1].get("Stage Name", "?")}
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sqls[str(e["executionId"])] = {"start": e["time"], "end": None,
                                           "site": " ".join(e.get("description", "?").split())}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if str(e["executionId"]) in sqls:
                sqls[str(e["executionId"])]["end"] = e["time"]
    t0 = app_start if app_start is not None else min(
        [j["start"] for j in jobs.values()] + [s["start"] for s in sqls.values()] or [0])

    def ran(job):
        done = [s for s in job["stages"] if s in stage_tasks]
        return len(done), sum(stage_tasks[s] for s in done)

    def line(start, end, stages, tasks, what):
        dur = f"{(end - start) / 1e3:7.3f}" if end else "      ?"
        print(f"{(start - t0) / 1e3:8.3f} {dur} {stages:3d} {tasks:4d}  {what[:120]}")

    under = {sid: [] for sid in sqls}
    top = [(s["start"], sid, s) for sid, s in sqls.items()]
    for j in jobs.values():
        if j["sql"] in under:
            under[j["sql"]].append(j)
        else:
            top.append((j["start"], None, j))
    for start, sid, rec in sorted(top, key=lambda r: r[0]):
        if sid is None:
            line(start, rec["end"], *ran(rec), f"job {rec['site']}")
            continue
        mine = sorted(under[sid], key=lambda j: j["start"])
        counts = [ran(j) for j in mine]
        line(start, rec["end"], sum(c[0] for c in counts), sum(c[1] for c in counts),
             f"sql {rec['site']}")
        for j, (stages, tasks) in zip(mine, counts):
            line(j["start"], j["end"], stages, tasks, f"  job {j['site']}")
    print(f"# {len(sqls)} sql executions, {len(jobs)} jobs, "
          f"{len(stage_tasks)} stages, {sum(stage_tasks.values())} tasks")


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    print("#  start_s   dur_s  stg tasks  what")
    for path in sys.argv[1:]:
        print(f"## {path}")
        timeline(load(path))


if __name__ == "__main__":
    main()

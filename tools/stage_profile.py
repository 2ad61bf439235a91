#!/usr/bin/env python3
"""Per-SQL-execution profile of a Spark event log.

Prints one row per SQL execution: wall seconds, jobs, stages, tasks, task
seconds (executor run time), shuffle read and write bytes, and the
execution's description (Spark's call site of the action). Jobs started
outside any SQL execution (RDD actions, checkpoints) are grouped under
execution "-". The last row is the total; its wall is the sum of the
executions' walls, which counts overlapping executions (tables a `Runner`
call runs concurrently) more than once. A last line therefore prints the
elapsed seconds (the union of the execution intervals) and the overlap
(summed wall / elapsed: 1.0 when no two executions overlap).

    python3 tools/stage_profile.py LOG [--sort task_s] [--limit N]

LOG is an uncompressed event log: a file, a rolling-log directory
(`eventlog_v2_<app>`, its `events_<n>_<app>` parts read in order), or a
directory of those (the newest is read). Write one with, for example:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=/tmp/evlog -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload curate_dedup --seed 7 --seconds 5
"""
import argparse
import json
import os
import sys

NONE = "-"


def log_files(path):
    """The event log files of the newest application under `path`."""
    if os.path.isfile(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    if parts:  # one rolling log: events_<n>_<app>
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [os.path.join(path, f) for f in parts]
    entries = [os.path.join(path, f) for f in os.listdir(path)
               if not f.startswith(".")]
    if not entries:
        sys.exit(f"no event log under {path}")
    return log_files(max(entries, key=os.path.getmtime))


def lines(files):
    for name in files:
        with open(name) as f:
            yield from f


def exec_id(props):
    v = (props or {}).get("spark.sql.execution.id")
    return int(v) if v is not None else NONE


def profile(lines):
    execs = {}  # id -> row
    stage_exec = {}  # stage id -> execution id

    def row(eid):
        return execs.setdefault(eid, {
            "id": eid, "start": None, "end": None, "desc": "",
            "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
            "shuffle_read": 0, "shuffle_write": 0})

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            r = row(ev["executionId"])
            r["start"] = ev.get("time")
            r["desc"] = ev.get("description", "")
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            row(ev["executionId"])["end"] = ev.get("time")
        elif kind == "SparkListenerJobStart":
            row(exec_id(ev.get("Properties")))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            eid = exec_id(ev.get("Properties"))
            stage_exec[sid] = eid
            row(eid)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            r = row(stage_exec.get(ev["Stage ID"], NONE))
            r["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            r["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read"] += rd.get("Remote Bytes Read", 0) + \
                rd.get("Local Bytes Read", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write"] += wr.get("Shuffle Bytes Written", 0)
    return list(execs.values())


def union_seconds(intervals):
    """Seconds covered by the union of (start ms, end ms) intervals.

    >>> union_seconds([(1000, 4000), (2000, 5000)])
    4.0
    >>> union_seconds([(1000, 2000), (3000, 3500), (3100, 3200)])
    1.5
    """
    covered, reach = 0, None
    for lo, hi in sorted(intervals):
        if reach is None or lo > reach:
            covered += hi - lo
            reach = hi
        elif hi > reach:
            covered += hi - reach
            reach = hi
    return covered / 1000.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--sort", default="id",
                    choices=["id", "wall_s", "jobs", "stages", "tasks",
                             "task_s", "shuffle_read", "shuffle_write"])
    ap.add_argument("--limit", type=int, default=0,
                    help="print only the first N rows after sorting")
    a = ap.parse_args()
    rows = profile(lines(log_files(a.log)))
    for r in rows:
        done = r["start"] is not None and r["end"] is not None
        r["wall_s"] = (r["end"] - r["start"]) / 1000.0 if done else 0.0
    if a.sort == "id":
        rows.sort(key=lambda r: (r["id"] == NONE, r["id"] if r["id"] != NONE else 0))
    else:
        rows.sort(key=lambda r: -r[a.sort])
    total = {k: sum(r[k] for r in rows) for k in
             ("wall_s", "jobs", "stages", "tasks", "task_s",
              "shuffle_read", "shuffle_write")}
    fmt = "{:>6} {:>8} {:>5} {:>6} {:>6} {:>8} {:>12} {:>12}  {}"
    print(fmt.format("exec", "wall_s", "jobs", "stages", "tasks", "task_s",
                     "shuf_read_B", "shuf_write_B", "description"))
    shown = rows[:a.limit] if a.limit > 0 else rows
    for r in shown:
        print(fmt.format(r["id"], f"{r['wall_s']:.2f}", r["jobs"], r["stages"],
                         r["tasks"], f"{r['task_s']:.2f}", r["shuffle_read"],
                         r["shuffle_write"], r["desc"][:70].replace("\n", " ")))
    print(fmt.format("total", f"{total['wall_s']:.2f}", total["jobs"],
                     total["stages"], total["tasks"], f"{total['task_s']:.2f}",
                     total["shuffle_read"], total["shuffle_write"],
                     f"{len(rows)} executions"))
    elapsed = union_seconds([(r["start"], r["end"]) for r in rows
                             if r["start"] is not None and r["end"] is not None])
    overlap = total["wall_s"] / elapsed if elapsed > 0 else 0.0
    print(f"elapsed_s {elapsed:.2f}  overlap {overlap:.2f}")


if __name__ == "__main__":
    main()

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
    python3 tools/stage_profile.py LOG --by group
    python3 tools/stage_profile.py LOG --by site

`--by group` rolls the jobs up by Spark job group (`spark.jobGroup.id`;
perfbench sets one per traced layer, traced or not) instead: jobs, jobs
outside any SQL execution (mostly parquet schema inference), task seconds
and elapsed seconds (the union of the group's job intervals). Jobs with no
group are grouped under "-".

`--by site` rolls them up by the graft operator that started them: the
first `graft.` frame of the call-site stack (`details`) of the job's SQL
execution, or of its result stage for a job outside any, printed as
`Class.method:line`. It splits one job group into operators — `Runner`'s
pool threads give every table's jobs the same group. Columns as for
`--by group`, plus the SQL executions; jobs with no `graft.` frame (the
caller's own actions) are grouped under "-".

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
import re
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


def by_group(lines):
    """One row per job group: jobs, jobs outside SQL executions, task
    seconds and elapsed seconds.

    >>> ev = [
    ...   {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
    ...    "Properties": {"spark.jobGroup.id": "index.probe"}},
    ...   {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
    ...    "Properties": {"spark.jobGroup.id": "index.probe"}},
    ...   {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
    ...    "Task Metrics": {"Executor Run Time": 250}},
    ...   {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
    ...   {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400,
    ...    "Properties": {"spark.jobGroup.id": "index.probe",
    ...                   "spark.sql.execution.id": "7"}},
    ...   {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
    ...   {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2500},
    ...   {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2600}]
    >>> for r in by_group(json.dumps(e) for e in ev):
    ...     print(r["group"], r["jobs"], r["outside_sql"], r["task_s"], r["elapsed_s"])
    index.probe 2 1 0.25 1.0
    - 1 1 0.0 0.1
    """
    groups = {}  # group -> row
    job_group, stage_group, spans = {}, {}, {}

    def row(g):
        return groups.setdefault(g, {"group": g, "jobs": 0, "outside_sql": 0,
                                     "task_s": 0.0, "elapsed_s": 0.0})

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        props = ev.get("Properties") or {}
        if kind == "SparkListenerJobStart":
            g = props.get("spark.jobGroup.id") or NONE
            job_group[ev["Job ID"]] = g
            r = row(g)
            r["jobs"] += 1
            r["outside_sql"] += exec_id(props) == NONE
            spans.setdefault(g, {})[ev["Job ID"]] = [ev.get("Submission Time"), None]
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(ev["Job ID"])
            if g is not None:
                spans[g][ev["Job ID"]][1] = ev.get("Completion Time")
        elif kind == "SparkListenerStageSubmitted":
            stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id") or NONE
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            row(stage_group.get(ev["Stage ID"], NONE))["task_s"] += \
                m.get("Executor Run Time", 0) / 1000.0
    for g, r in groups.items():
        r["elapsed_s"] = union_seconds([(lo, hi) for lo, hi in spans.get(g, {}).values()
                                        if lo is not None and hi is not None])
    return list(groups.values())


def frame_site(details):
    """The first `graft.` frame of a call-site stack, as Class.method:line.

    >>> frame_site("org.apache.spark.sql.Dataset.count(Dataset.scala:1)\\n"
    ...            "graft.pipeline.Runner$.$anonfun$syncIncremental$1(Runner.scala:103)\\n"
    ...            "perfbench.EtlSync.round(EtlSync.scala:251)")
    'Runner.syncIncremental:103'
    >>> frame_site("graft.pipeline.BatchAppend$.graft$pipeline$BatchAppend$$mark(BatchAppend.scala:170)")
    'BatchAppend.mark:170'
    >>> frame_site("org.apache.spark.rdd.RDD.collect(RDD.scala:1)")
    '-'
    """
    for line in (details or "").splitlines():
        frame = line.strip()
        if frame.startswith("at "):
            frame = frame[3:]
        if not frame.startswith("graft."):
            continue
        head, _, where = frame.partition("(")
        cls, _, meth = head.rpartition(".")
        # `$anonfun$name$1` (a lambda) and `pkg$Owner$$name` (a private
        # method's mangled name) both stand for `name`
        meth = re.match(r"(?:\$anonfun\$)*([^$]*)", meth.split("$$")[-1]).group(1) or meth
        line_no = where.rstrip(")").rpartition(":")[2]
        return f"{cls.rsplit('.', 1)[-1].rstrip('$')}.{meth}:{line_no}"
    return NONE


def by_site(lines):
    """One row per call site (`frame_site`): SQL executions, jobs, jobs
    outside SQL executions, task seconds and elapsed seconds.

    >>> runner = "x.y(Y.scala:1)\\ngraft.pipeline.Sinks$.fullRefresh(Sinks.scala:26)"
    >>> ev = [
    ...   {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    ...    "executionId": 3, "details": runner},
    ...   {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
    ...    "Stage Infos": [{"Stage ID": 0, "Details": "ignored"}],
    ...    "Properties": {"spark.sql.execution.id": "3"}},
    ...   {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
    ...    "Task Metrics": {"Executor Run Time": 500}},
    ...   {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1800},
    ...   {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
    ...    "Stage Infos": [{"Stage ID": 1, "Details": "java.lang.Thread.run(T.java:1)"},
    ...                    {"Stage ID": 2, "Details":
    ...        "org.apache.spark.rdd.RDD.collect(RDD.scala:1)\\n"
    ...        "graft.functions.RowHash$.partitionRowCounts(RowHash.scala:99)"}]},
    ...   {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100}]
    >>> for r in by_site(json.dumps(e) for e in ev):
    ...     print(r["site"], r["executions"], r["jobs"], r["outside_sql"],
    ...           r["task_s"], r["elapsed_s"])
    Sinks.fullRefresh:26 1 1 0 0.5 0.8
    RowHash.partitionRowCounts:99 0 1 1 0.0 0.1
    """
    sites = {}  # site -> row
    exec_site, job_site, stage_site, spans, execs = {}, {}, {}, {}, {}

    def row(site):
        return sites.setdefault(site, {"site": site, "executions": 0, "jobs": 0,
                                       "outside_sql": 0, "task_s": 0.0,
                                       "elapsed_s": 0.0})

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            exec_site[ev["executionId"]] = frame_site(ev.get("details"))
        elif kind == "SparkListenerJobStart":
            eid = exec_id(ev.get("Properties"))
            stages = ev.get("Stage Infos") or []
            if eid != NONE:
                site = exec_site.get(eid, NONE)
                execs.setdefault(site, set()).add(eid)
            else:  # the result stage (the job's last) carries the action's site
                last = max(stages, key=lambda st: st["Stage ID"], default={})
                site = frame_site(last.get("Details"))
            r = row(site)
            r["jobs"] += 1
            r["outside_sql"] += eid == NONE
            job_site[ev["Job ID"]] = site
            for st in stages:
                stage_site[st["Stage ID"]] = site
            spans.setdefault(site, {})[ev["Job ID"]] = [ev.get("Submission Time"), None]
        elif kind == "SparkListenerJobEnd":
            site = job_site.get(ev["Job ID"])
            if site is not None:
                spans[site][ev["Job ID"]][1] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            row(stage_site.get(ev["Stage ID"], NONE))["task_s"] += \
                m.get("Executor Run Time", 0) / 1000.0
    for site, r in sites.items():
        r["executions"] = len(execs.get(site, ()))
        r["elapsed_s"] = union_seconds([(lo, hi) for lo, hi in spans.get(site, {}).values()
                                        if lo is not None and hi is not None])
    return list(sites.values())


def print_sites(rows, sort):
    key = {"id": "site", "wall_s": "elapsed_s"}.get(sort, sort)
    rows.sort(key=lambda r: (r["site"] == NONE, r["site"]) if key == "site"
              else -r.get(key, 0))
    fmt = "{:<44} {:>5} {:>5} {:>11} {:>8} {:>9}"
    print(fmt.format("site", "execs", "jobs", "outside_sql", "task_s", "elapsed_s"))
    for r in rows:
        print(fmt.format(r["site"][:44], r["executions"], r["jobs"], r["outside_sql"],
                         f"{r['task_s']:.2f}", f"{r['elapsed_s']:.2f}"))
    print(fmt.format("total", sum(r["executions"] for r in rows),
                     sum(r["jobs"] for r in rows), sum(r["outside_sql"] for r in rows),
                     f"{sum(r['task_s'] for r in rows):.2f}", ""))


def print_groups(rows, sort):
    key = {"id": "group", "wall_s": "elapsed_s"}.get(sort, sort)
    rows.sort(key=lambda r: (r["group"] == NONE, r["group"]) if key == "group"
              else -r.get(key, 0))
    fmt = "{:<32} {:>5} {:>11} {:>8} {:>9}"
    print(fmt.format("group", "jobs", "outside_sql", "task_s", "elapsed_s"))
    for r in rows:
        print(fmt.format(r["group"][:32], r["jobs"], r["outside_sql"],
                         f"{r['task_s']:.2f}", f"{r['elapsed_s']:.2f}"))
    print(fmt.format("total", sum(r["jobs"] for r in rows),
                     sum(r["outside_sql"] for r in rows),
                     f"{sum(r['task_s'] for r in rows):.2f}", ""))


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
    ap.add_argument("--by", default="execution", choices=["execution", "group", "site"],
                    help="one row per SQL execution (default), per job group or "
                         "per graft call site")
    a = ap.parse_args()
    if a.by == "group":
        print_groups(by_group(lines(log_files(a.log))), a.sort)
        return
    if a.by == "site":
        print_sites(by_site(lines(log_files(a.log))), a.sort)
        return
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

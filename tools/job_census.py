#!/usr/bin/env python3
"""Spark jobs, tasks and executor CPU per call site, from an event log.

    tools/job_census.py <event-log> [from_s to_s]

<event-log> is one uncompressed Spark event log: a file of JSON lines, or
a rolling log's `eventlog_v2_*` directory (Spark 4 writes those by
default; its `events_<n>_*` files are read in order). With
from_s / to_s, only jobs submitted in that window (seconds after the
application started) count. A job's call site is the description of the
SQL execution it belongs to (the action, e.g. "collect at
Searcher.scala:1110"), else its job description, else the name of its
last stage. Prints one line per call site (jobs, tasks, executor CPU ms),
the most jobs first, then a total.

Getting a log from an unmodified perfbench run (Spark 4.1 compresses event
logs with zstd unless told not to):

    mkdir -p /tmp/ev
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:///tmp/ev \\
      -Dspark.eventLog.compress=false" python3 perfbench/run.py --workload ingest \\
      --seed 901 --seconds 3 --trace 0
    tools/job_census.py /tmp/ev/eventlog_v2_local-*
"""
import json
import os
import re
import sys
from collections import defaultdict


def lines(path):
    """The log's lines; a rolling log's event files in index order."""
    if not os.path.isdir(path):
        files = [path]
    else:
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in
                 sorted(names, key=lambda n: int(re.match(r"events_(\d+)_", n).group(1)))]
    for f in files:
        with open(f) as fh:
            yield from fh


def main(argv):
    if len(argv) not in (2, 4):
        sys.stderr.write(__doc__)
        return 2
    lo, hi = (float(argv[2]), float(argv[3])) if len(argv) == 4 else (None, None)
    app_start = None
    sql_desc = {}          # execution id -> description
    job_site = {}          # job id -> call site
    stage_job = {}         # stage id -> job id
    jobs = defaultdict(int)
    tasks = defaultdict(int)
    cpu_ns = defaultdict(int)
    for line in lines(argv[1]):
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerApplicationStart":
            app_start = e["Timestamp"]
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            sql_desc[str(e["executionId"])] = e.get("description", "")
        elif ev == "SparkListenerJobStart":
            t = (e["Submission Time"] - (app_start or e["Submission Time"])) / 1000.0
            if lo is not None and not (lo <= t <= hi):
                continue
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            stages = e.get("Stage Infos") or []
            site = (sql_desc.get(exec_id) if exec_id is not None else None) \
                or props.get("spark.job.description") \
                or (max(stages, key=lambda s: s["Stage ID"])["Stage Name"] if stages else "?")
            job_site[e["Job ID"]] = site
            jobs[site] += 1
            for s in e.get("Stage IDs") or [s["Stage ID"] for s in stages]:
                stage_job[s] = e["Job ID"]
        elif ev == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            if job is None or job not in job_site:
                continue
            site = job_site[job]
            tasks[site] += 1
            m = e.get("Task Metrics") or {}
            cpu_ns[site] += m.get("Executor CPU Time", 0)
    w = max([len(s) for s in jobs] + [5])
    print(f"{'call site':<{w}}  {'jobs':>5}  {'tasks':>6}  {'cpu_ms':>9}")
    for site in sorted(jobs, key=lambda s: (-jobs[s], s)):
        print(f"{site:<{w}}  {jobs[site]:>5}  {tasks[site]:>6}  {cpu_ns[site] / 1e6:>9.1f}")
    print(f"{'total':<{w}}  {sum(jobs.values()):>5}  {sum(tasks.values()):>6}  "
          f"{sum(cpu_ns.values()) / 1e6:>9.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

#!/usr/bin/env python3
"""Turn an uncompressed Spark event log into a per-job timeline.

    python3 tools/joblog.py EVENT_LOG [--from-job N] [--to-job M]

One row per job, in submission order: the gap since the previous job
ended, the job's duration, its task count, the SQL description it ran
under (or its job description), and under it one line per stage with
its tasks and its shuffle read/write, input and output bytes (summed
over the stage's task-end events). A last line sums up the jobs shown.

Record a log from any JVM run (perfbench included) without editing it:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/evlog" ...
"""
import argparse
import json
import sys
from collections import defaultdict


def human(n):
    """Bytes as a short string (B, KB, MB, GB)."""
    for unit in ("B", "KB", "MB"):
        if abs(n) < 1024:
            return f"{n:.0f}{unit}" if unit == "B" else f"{n:.1f}{unit}"
        n /= 1024
    return f"{n:.1f}GB"


def read(path):
    """Jobs (by id), per-stage byte totals and tasks, and SQL descriptions."""
    jobs, sql = {}, {}
    stages = defaultdict(lambda: defaultdict(int))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "start": e.get("Submission Time", 0),
                    "end": None,
                    "stages": [(s["Stage ID"], s.get("Number of Tasks", 0)) for s in e.get("Stage Infos", [])],
                    "sql": props.get("spark.sql.execution.id"),
                    "desc": props.get("spark.job.description"),
                }
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e.get("Completion Time")
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages[info["Stage ID"]]
                st["ran"] = 1
                st["tasks"] = info.get("Number of Tasks", 0)
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                st = stages[e["Stage ID"]]
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[str(e.get("executionId"))] = e.get("description", "")
    return jobs, stages, sql


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("log")
    ap.add_argument("--from-job", type=int, default=None, help="first job id shown")
    ap.add_argument("--to-job", type=int, default=None, help="last job id shown")
    args = ap.parse_args()
    jobs, stages, sql = read(args.log)
    shown = [j for j in sorted(jobs)
             if (args.from_job is None or j >= args.from_job) and (args.to_job is None or j <= args.to_job)]
    prev_end, total_ms, total_tasks = None, 0, 0
    print(f"{'job':>5} {'gap ms':>7} {'dur ms':>7} {'tasks':>5}  description")
    for j in shown:
        job = jobs[j]
        end = job["end"] if job["end"] is not None else job["start"]
        gap = job["start"] - prev_end if prev_end is not None else 0
        ran = [(s, n) for s, n in job["stages"] if stages[s]["ran"]]
        tasks = sum(stages[s]["tasks"] for s, _ in ran)
        desc = sql.get(str(job["sql"])) or job["desc"] or ""
        print(f"{j:>5} {gap:>7} {end - job['start']:>7} {tasks:>5}  {desc.splitlines()[0][:90] if desc else ''}")
        for s, _ in ran:
            st = stages[s]
            print(f"{'':>28}stage {s}: {st['tasks']} tasks, shuffle read {human(st['shuffle_read'])}, "
                  f"write {human(st['shuffle_write'])}, input {human(st['input'])}, output {human(st['output'])}")
        prev_end = end
        total_ms += end - job["start"]
        total_tasks += tasks
    print(f"{len(shown)} jobs, {total_ms} ms in jobs, {total_tasks} tasks", file=sys.stdout)


if __name__ == "__main__":
    main()

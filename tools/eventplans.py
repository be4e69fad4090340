#!/usr/bin/env python3
"""Every SQL execution in a Spark event log, with its physical plan; or,
with --jobs, the log's job timeline.

Usage: python3 tools/eventplans.py <eventLogFile> [scanNeedle]
       python3 tools/eventplans.py --jobs <eventLogFile>

Prints one block per SQL execution (id, description, job count, physical
plan) and a header with the totals: executions, jobs, and how many scan
nodes read a path containing scanNeedle (default "documents.parquet").

--jobs prints one line per job instead, in submission order: the driver
gap since the previous job ended (0 when the jobs overlap; the first job
has none), the job's duration, the number of tasks it ran, its wait (the
first task's launch minus the job's submission: time queued for a task
slot, or spent in the scheduler; `-` for a job with no task), and the first
`graft.` (or benchmark harness `perfbench.`) frame of its result stage's
call site, which names the line of code that started the job. A job that
adaptive execution submits from its own thread, and a zero-partition job
(no stages, 0 tasks), has no such frame; it shows its SQL execution's
frame instead, tagged with the execution id. A job that carries a
description (a streaming micro-batch names its query, a parallel file
listing its path count) shows the description's first line after the
frame, in quotes. A footer gives the job count, the wall time from the
first submission to the last end, and the sums of job durations
(overlapping jobs each count) and of the gaps.
Produce the log by running a main with Spark's event log on, e.g.

    sbt 'set run / javaOptions ++= Seq("-Dspark.eventLog.enabled=true",
      "-Dspark.eventLog.compress=false",
      "-Dspark.eventLog.rolling.enabled=false",
      "-Dspark.eventLog.dir=/tmp/ev")' \\
      "runMain graft.Explain d14_incremental_verdicts <sfDir>"

(uncompressed and not rolled, so the log is one JSON-lines file).

Plans that a query builds eagerly (localCheckpoint, first(), collect())
show up here; the lazy final plan is what Explain itself prints.

Tests (stdlib unittest, over a synthetic event log):

    python3 -m unittest discover -s tools/tests
"""
import json
import re
import sys


def graft_frame(details: str) -> str:
    for frame in details.splitlines():
        if frame.strip().startswith(("graft.", "perfbench.")):
            return frame.strip()
    return "-"


def jobs_timeline(path: str) -> None:
    jobs, running, exec_frames = {}, [], {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart"):
                exec_frames[ev["executionId"]] = graft_frame(ev.get("details", ""))
            elif kind == "SparkListenerJobStart":
                # a zero-partition job has no stages and runs no task
                result = max(ev["Stage Infos"], key=lambda s: s["Stage ID"],
                             default={})
                props = ev.get("Properties", {})
                eid = props.get("spark.sql.execution.id")
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"], "end": None, "tasks": 0,
                    "launch": None,
                    "stages": set(ev["Stage IDs"]),
                    "frame": graft_frame(result.get("Details", "")),
                    "exec": None if eid is None else int(eid),
                    "desc": props.get("spark.job.description", "")}
                running.append(ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                running.remove(ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                # a task belongs to the latest running job that lists its stage
                for jid in reversed(running):
                    j = jobs[jid]
                    if ev["Stage ID"] in j["stages"]:
                        j["tasks"] += 1
                        t = ev["Task Info"]["Launch Time"]
                        j["launch"] = t if j["launch"] is None else min(j["launch"], t)
                        break
    print(f"{'job':>4} {'gap_s':>7} {'dur_s':>7} {'tasks':>5} {'wait_s':>7}  "
          "first graft frame")
    prev_end, gaps, durs = None, 0.0, 0.0
    for jid in sorted(jobs, key=lambda j: (jobs[j]["start"], j)):
        j = jobs[jid]
        frame = j["frame"]
        if frame == "-" and j["exec"] is not None:
            frame = f"{exec_frames.get(j['exec'], '-')} [sql {j['exec']}]"
        if j["desc"]:
            frame += f" \"{j['desc'].split('<br/>')[0].splitlines()[0].rstrip(':')}\""
        end = j["end"] if j["end"] is not None else j["start"]
        gap = None if prev_end is None else max(j["start"] - prev_end, 0) / 1000.0
        gaps += gap or 0.0
        durs += (end - j["start"]) / 1000.0
        wait = "-" if j["launch"] is None else f"{(j['launch'] - j['start']) / 1000.0:.3f}"
        print(f"{jid:>4} {'-' if gap is None else f'{gap:.3f}':>7} "
              f"{(end - j['start']) / 1000.0:>7.3f} {j['tasks']:>5} {wait:>7}  {frame}")
        prev_end = end if prev_end is None else max(prev_end, end)
    wall = (prev_end - min(j["start"] for j in jobs.values())) / 1000.0 if jobs else 0.0
    print(f"jobs {len(jobs)}, first submission to last end {wall:.3f} s, "
          f"job time {durs:.3f} s, driver gaps {gaps:.3f} s")


def main() -> None:
    args = sys.argv[1:]
    if not args or (args[0] == "--jobs" and len(args) != 2):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        sys.exit(2)
    if args[0] == "--jobs":
        jobs_timeline(args[1])
        return
    path = args[0]
    needle = args[1] if len(args) > 1 else "documents.parquet"
    execs, jobs = {}, {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart"):
                execs[ev["executionId"]] = ev
            elif kind == "SparkListenerJobStart":
                eid = ev.get("Properties", {}).get("spark.sql.execution.id")
                if eid is not None:
                    jobs[int(eid)] = jobs.get(int(eid), 0) + 1
    scan = re.compile(r"^\(\d+\) Scan .*$", re.M)
    blocks, n_scans = [], 0
    for eid in sorted(execs):
        plan = execs[eid]["physicalPlanDescription"]
        hits = [s for s in scan.findall(plan)
                if needle in plan[plan.index(s):].split("\n\n", 1)[0]]
        n_scans += len(hits)
        blocks.append(
            f"---- execution {eid}: {execs[eid]['description']} "
            f"(jobs {jobs.get(eid, 0)}, {needle} scans {len(hits)})\n{plan}")
    print(f"executions {len(execs)}, jobs {sum(jobs.values())}, "
          f"{needle} scans {n_scans}\n")
    print("\n".join(blocks))


if __name__ == "__main__":
    main()

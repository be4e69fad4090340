#!/usr/bin/env python3
"""Every SQL execution in a Spark event log, with its physical plan.

Usage: python3 tools/eventplans.py <eventLogFile> [scanNeedle]

Prints one block per SQL execution (id, description, job count, physical
plan) and a header with the totals: executions, jobs, and how many scan
nodes read a path containing scanNeedle (default "documents.parquet").
Produce the log by running a main with Spark's event log on, e.g.

    sbt 'set run / javaOptions ++= Seq("-Dspark.eventLog.enabled=true",
      "-Dspark.eventLog.compress=false",
      "-Dspark.eventLog.rolling.enabled=false",
      "-Dspark.eventLog.dir=/tmp/ev")' \\
      "runMain graft.Explain d14_incremental_verdicts <sfDir>"

(uncompressed and not rolled, so the log is one JSON-lines file).

Plans that a query builds eagerly (localCheckpoint, first(), collect())
show up here; the lazy final plan is what Explain itself prints.
"""
import json
import re
import sys


def main() -> None:
    path = sys.argv[1]
    needle = sys.argv[2] if len(sys.argv) > 2 else "documents.parquet"
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

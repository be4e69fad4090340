"""Tests of tools/eventplans.py over a small synthetic JSON-lines event log.

Run from the repository root:

    python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest

TOOLS = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, TOOLS)

import eventplans  # noqa: E402

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def stage(sid, frame):
    return {"Stage ID": sid,
            "Details": f"org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n{frame}\n"}


def job_start(jid, t, stages, exec_id=None, desc=None):
    props = {}
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    if desc is not None:
        props["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage Infos": stages, "Stage IDs": [s["Stage ID"] for s in stages],
            "Properties": props}


def job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


def task_end(sid, launch):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
            "Task Info": {"Launch Time": launch}}


# job 0: two stages, 5 tasks, the result stage (highest id) names the frame;
#        its first-launched task is not the first to end
# job 1: zero partitions (no stages, no tasks), started by SQL execution 7
# job 2: a quoted description; job 3 overlaps it, their tasks interleave
# job 3: submitted at 2100, its first task waits for a slot until 2160
EVENTS = [
    {"Event": SQL_START, "executionId": 7, "description": "localCheckpoint",
     "details": "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:1)\n"
                "graft.queries.Dedup$.incrementalVerdictsQuery(Dedup.scala:132)\n",
     "physicalPlanDescription": "== Physical Plan ==\n(1) Scan parquet \n"},
    job_start(0, 1000, [stage(0, "graft.Map.stage(M.scala:1)"),
                        stage(1, "graft.operators.TextDedup$.nearDupVerdicts(TextDedup.scala:80)")]),
    task_end(0, 1030), task_end(0, 1010), task_end(0, 1020),
    task_end(1, 1300), task_end(1, 1310),
    job_end(0, 1500),
    job_start(1, 1750, [], exec_id=7),
    job_end(1, 1760),
    job_start(2, 2000, [stage(4, "graft.pipeline.CleanJob$.run(CleanJob.scala:40)")],
              desc="Listing leaf files and directories for 40 paths:<br/>file:/a, file:/b"),
    task_end(4, 2000),
    job_start(3, 2100, [stage(5, "perfbench.Curation$.op(Curation.scala:9)")],
              desc="st9_spec_mem\nid = 1\nbatch = 0"),
    task_end(5, 2160), task_end(4, 2005), task_end(5, 2170), task_end(5, 2165),
    job_end(3, 2300),
    job_end(2, 2400),
]


class JobsTimelineTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        fd, cls.log = tempfile.mkstemp(suffix=".jsonl")
        with os.fdopen(fd, "w") as f:
            for ev in EVENTS:
                f.write(json.dumps(ev) + "\n")
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            eventplans.jobs_timeline(cls.log)
        cls.lines = out.getvalue().splitlines()
        cols = [line.split(None, 5) for line in cls.lines[1:-1]]
        # rows without the wait_s column, which waits holds
        cls.rows = {int(c[0]): c[:4] + c[5:] for c in cols}
        cls.waits = {int(c[0]): c[4] for c in cols}

    @classmethod
    def tearDownClass(cls):
        os.remove(cls.log)

    def test_one_line_per_job_in_submission_order(self):
        self.assertEqual(list(self.rows), [0, 1, 2, 3])

    def test_gap_duration_and_tasks(self):
        # (gap_s, dur_s, tasks); the first job has no gap, an overlapping one 0
        got = {j: tuple(r[1:4]) for j, r in self.rows.items()}
        self.assertEqual(got, {0: ("-", "0.500", "5"), 1: ("0.250", "0.010", "0"),
                               2: ("0.240", "0.400", "2"), 3: ("0.000", "0.200", "3")})

    def test_wait_is_first_task_launch_minus_submission(self):
        # job 0 waits for its earliest launch, not its first task end; a
        # zero-task job has no wait; job 3 queued 60 ms for a task slot
        self.assertEqual(self.waits, {0: "0.010", 1: "-", 2: "0.000", 3: "0.060"})

    def test_header_names_the_columns(self):
        self.assertEqual(self.lines[0].split()[:6],
                         ["job", "gap_s", "dur_s", "tasks", "wait_s", "first"])

    def test_result_stage_names_the_frame(self):
        self.assertEqual(self.rows[0][4],
                         "graft.operators.TextDedup$.nearDupVerdicts(TextDedup.scala:80)")

    def test_zero_partition_job_shows_its_sql_execution(self):
        self.assertEqual(self.rows[1][4],
                         "graft.queries.Dedup$.incrementalVerdictsQuery(Dedup.scala:132) [sql 7]")

    def test_description_first_line_is_quoted(self):
        self.assertEqual(self.rows[2][4], 'graft.pipeline.CleanJob$.run(CleanJob.scala:40) '
                                          '"Listing leaf files and directories for 40 paths"')
        self.assertEqual(self.rows[3][4],
                         'perfbench.Curation$.op(Curation.scala:9) "st9_spec_mem"')

    def test_footer_sums(self):
        self.assertEqual(self.lines[-1], "jobs 4, first submission to last end 1.400 s, "
                                         "job time 1.110 s, driver gaps 0.490 s")


class CliTest(unittest.TestCase):

    def test_no_arguments_prints_usage_and_exits_2(self):
        p = subprocess.run([sys.executable, os.path.join(TOOLS, "eventplans.py")],
                           capture_output=True, text=True)
        self.assertEqual(p.returncode, 2)
        self.assertIn("Usage: python3 tools/eventplans.py", p.stderr)


if __name__ == "__main__":
    unittest.main()

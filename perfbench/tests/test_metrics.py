import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(i, name, parent, t0, t1, op=0):
    return {"id": i, "name": name, "parent": parent, "op": op, "t0": t0, "t1": t1}


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertFalse(metrics.reportable(90, 99))
        self.assertTrue(metrics.reportable(90, 100))
        self.assertTrue(metrics.reportable(50, 20))
        self.assertFalse(metrics.reportable(50, 19))
        self.assertFalse(metrics.reportable(99, 999))
        self.assertTrue(metrics.reportable(99, 1000))

    def test_p90_only_with_100_ops(self):
        def result(n):
            return {"ops": [{"id": i, "t0": 0, "t1": (i + 1) * 10 ** 9,
                             "units": 1} for i in range(n)],
                    "setup": [[1.0, 0, 0, 0]], "peak_heap_mb": 1.0,
                    "heap_samples": 1, "written_bytes": 0, "input_bytes": 1}
        self.assertNotIn("op_p90_s", metrics.end_to_end(result(99), set()))
        m = metrics.end_to_end(result(100), set())
        self.assertEqual(m["op_p90_s"], (90.0, "s", 100))
        self.assertEqual(m["op_p50_s"][0], 50.5)

    def test_failed_ops_count_against_attempted(self):
        r = {"ops": [{"id": i, "t0": 0, "t1": 10 ** 9, "units": 2}
                     for i in range(4)],
             "setup": [[3.0, 0, 0, 0], [1.0, 0, 0, 0], [2.0, 0, 0, 0]],
             "peak_heap_mb": 1.0, "heap_samples": 1, "written_bytes": 5,
             "input_bytes": 10}
        m = metrics.end_to_end(r, {1})
        self.assertEqual(m["failed_ratio"][0], 0.25)
        self.assertEqual(m["throughput_per_s"][0], 6 / 4)
        self.assertEqual(m["setup_s"], (2.0, "s", 3))
        self.assertEqual(m["written_bytes_per_input_byte"][0], 0.5)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, "op", -1, 0, 100),
                 span(1, "a", 0, 10, 50),
                 span(2, "b", 0, 30, 70),   # overlaps a
                 span(3, "c", 0, 60, 65),   # inside b
                 span(4, "d", 1, 20, 40)]   # grandchild: not the op's child
        s = metrics.self_times(spans)
        self.assertEqual(s[0], 100 - 60)    # union of a, b, c is [10, 70)
        self.assertEqual(s[1], 40 - 20)
        self.assertEqual(s[2], 40)
        self.assertEqual(s[4], 20)

    def test_children_clipped_to_parent(self):
        spans = [span(0, "p", -1, 0, 10), span(1, "c", 0, 5, 20)]
        self.assertEqual(metrics.self_times(spans)[0], 5)

    def test_innermost_open_span(self):
        spans = [span(0, "op", -1, 0, 100), span(1, "a", 0, 10, 50),
                 span(2, "a.bind", 1, 12, 20)]
        self.assertEqual(metrics.innermost(spans, 15)["id"], 2)
        self.assertEqual(metrics.innermost(spans, 30)["id"], 1)
        self.assertIsNone(metrics.innermost(spans, 150))


class Attribution(unittest.TestCase):
    def test_jobs_and_stages_land_in_their_op_and_bind(self):
        result = {
            "cores": 4,
            "setup": [[1.0, 0.1, 0.2, 0.3]],
            "ops": [{"id": 0, "t0": 0, "t1": 10 ** 9, "stats": {}},
                    {"id": 1, "t0": 2 * 10 ** 9, "t1": 3 * 10 ** 9,
                     "stats": {}}],
            "trace": {
                "spans": [span(0, "op", -1, 0, 10 ** 9),
                          span(1, "queries.dupClusters", 0, 10, 9 * 10 ** 8),
                          span(2, "queries.dupClusters.bind", 1, 20, 5 * 10 ** 8),
                          span(3, "op", -1, 2 * 10 ** 9, 3 * 10 ** 9, op=1),
                          span(4, "bench.check", -1, 1.1e9, 1.5e9),
                          span(5, "trace.snapshot", 0, 9.1e8, 9.5e8),
                          span(6, "bench.land", 0, 9.5e8, 9.6e8)],
                "events": [
                    {"k": "job_start", "job": 0, "t": 100},
                    {"k": "job_end", "job": 0, "t": 2.5 * 10 ** 8},
                    {"k": "job_start", "job": 1, "t": 1.2e9},  # in a check
                    {"k": "stage", "job": 0, "tasks": 4, "run_ms": 2000,
                     "cpu_ns": 10 ** 9, "gc_ms": 0, "shuffle_read": 1,
                     "shuffle_write": 2, "spill": 0, "input": 3,
                     "output": 0, "result": 5},
                    {"k": "stage", "job": 1, "tasks": 9, "run_ms": 9,
                     "cpu_ns": 9, "gc_ms": 9, "shuffle_read": 9,
                     "shuffle_write": 9, "spill": 9, "input": 9,
                     "output": 9, "result": 9},
                    {"k": "qe", "t": 2.5e9, "analysis_ms": 3,
                     "optimization_ms": 4, "planning_ms": 5}]}}
        ops = metrics.op_layers(result)
        self.assertEqual(ops[0]["exec.jobs"], 1)
        self.assertEqual(ops[0]["queries.bind_jobs"], 1)
        self.assertEqual(ops[0]["exec.tasks"], 4)
        self.assertAlmostEqual(ops[0]["exec.driver_only_s"], 0.75, places=6)
        self.assertAlmostEqual(ops[0]["exec.busy_ratio"], 2.0 / 4)
        self.assertAlmostEqual(ops[0]["queries.dupClusters_s"], 0.89999999, places=6)
        self.assertAlmostEqual(ops[0]["trace.overhead_s"], 0.04)
        self.assertAlmostEqual(ops[0]["trace.harness_s"], 0.01)
        self.assertNotIn("exec.jobs", ops[1])
        self.assertEqual(ops[1]["spark.planning_ms"], 5)
        layer = metrics.per_layer(result)
        self.assertEqual(set(layer), {n for n, _ in metrics.per_layer_names()})
        self.assertEqual(layer["trace.op_p50_s"], (1.0, "s"))
        self.assertEqual(layer["exec.tasks"], (4.0, "count"))
        self.assertEqual(layer["core.base_state_s"], (0.3, "s"))
        self.assertEqual(layer["streaming.triggers"], (0.0, "count"))


if __name__ == "__main__":
    unittest.main()

import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class OutputSchema(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_result_line(self):
        line = run.result_line(3, 1, {"setup_s": {"value": 1.5, "unit": "s"}})
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(line["correct"], False)
        self.assertEqual(json.loads(json.dumps(line)), line)

    def test_untraced_metrics_are_the_end_to_end_list(self):
        e2e = [(m["name"], m["unit"]) for m in self.bench["end_to_end"]]
        units = dict(metrics.END_TO_END)
        self.assertEqual(e2e, [(n, units[n]) for n in metrics.GATED])
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
            self.assertEqual(m["better"], "higher" if m["name"] == "throughput_per_s"
                             else "lower")
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.bench["end_to_end"]))

    def test_traced_metrics_are_the_per_layer_list(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         metrics.per_layer_names())

    def test_names_and_units(self):
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for k in ("end_to_end", "per_layer"):
            for m in self.bench[k]:
                self.assertRegex(m["unit"], UNIT)
        self.assertLessEqual(len(self.bench["per_layer"]), 128)
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)


if __name__ == "__main__":
    unittest.main()

"""Tests of tools/selfcheck.py's canonical row form and partition-key pins.

Run from the repository root:

    python3 -m unittest discover -s tools/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

TOOLS = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, TOOLS)

import selfcheck  # noqa: E402


class CanonTest(unittest.TestCase):

    def test_columns_are_ordered_by_name(self):
        self.assertEqual(selfcheck.canon([(1, "x")], ["b", "a"]), [("x", "1")])
        # the same rows under either column order give the same form
        self.assertEqual(selfcheck.canon([("x", 1)], ["a", "b"]),
                         selfcheck.canon([(1, "x")], ["b", "a"]))

    def test_floats_print_to_six_places(self):
        self.assertEqual(selfcheck.canon([(0.1 + 0.2,), (2.0,)], ["f"]),
                         [("0.300000",), ("2.000000",)])
        # differences past the sixth place vanish, earlier ones do not
        self.assertEqual(selfcheck.canon([(1.0000001,)], ["f"]),
                         selfcheck.canon([(1.0,)], ["f"]))
        self.assertNotEqual(selfcheck.canon([(1.00001,)], ["f"]),
                            selfcheck.canon([(1.0,)], ["f"]))

    def test_nan_prints_as_nan(self):
        self.assertEqual(selfcheck.canon([(float("nan"),)], ["f"]), [("NaN",)])

    def test_rows_are_sorted(self):
        rows = [(3, "c"), (1, "a"), (2, "b")]
        self.assertEqual(selfcheck.canon(rows, ["n", "s"]),
                         [("1", "a"), ("2", "b"), ("3", "c")])
        self.assertEqual(selfcheck.canon(rows, ["n", "s"]),
                         selfcheck.canon(list(reversed(rows)), ["n", "s"]))


class HivePartitionPinsTest(unittest.TestCase):

    def pins(self, *dirs):
        with tempfile.TemporaryDirectory() as root:
            for d in dirs:
                os.makedirs(os.path.join(root, d))
            return selfcheck.hive_partition_pins(root)

    def test_integral_values_pin_bigint(self):
        self.assertEqual(self.pins("cell=3", "cell=-12"), {"cell": "BIGINT"})

    def test_nested_keys_pin_independently(self):
        self.assertEqual(self.pins("cell=3/day=x", "cell=4/day=y"), {"cell": "BIGINT"})

    def test_values_int_accepts_but_spark_may_not_do_not_pin(self):
        for v in ["+1", "1_000", "abc", " 7"]:
            with self.subTest(value=v):
                self.assertEqual(self.pins("cell=3", f"cell={v}"), {})

    def test_no_partition_directories_pin_nothing(self):
        self.assertEqual(self.pins("part-0", "sub"), {})


class MainTest(unittest.TestCase):

    def test_too_few_arguments_prints_usage_and_exits_2(self):
        for args in [[], ["sfDir"]]:
            with self.subTest(args=args):
                p = subprocess.run([sys.executable, os.path.join(TOOLS, "selfcheck.py")] + args,
                                   capture_output=True, text=True)
                self.assertEqual(p.returncode, 2)
                self.assertIn("Usage: python3 tools/selfcheck.py", p.stderr)


if __name__ == "__main__":
    unittest.main()

"""The end-to-end metric arithmetic of perfbench/run.py: host-speed
restatement and the heap peak's fixed sample window.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402


def op(name, pass_no, wall):
    return {"name": name, "pass": pass_no, "wall_s": wall}


class MetricsTest(unittest.TestCase):
    def setUp(self):
        self.ops = [op("a", 0, 1.0), op("b", 0, 3.0), op("a", 1, 2.0), op("b", 1, 4.0)]
        self.record = {"heap_mb": [10.0, 12.0, 50.0], "ref_s": [run.REF_ROUND_S * 2] * 3}

    def test_slowdown_is_median_round_over_reference(self):
        rec = {"ref_s": [run.REF_ROUND_S, run.REF_ROUND_S * 3, run.REF_ROUND_S * 2]}
        self.assertAlmostEqual(run.host_slowdown(rec), 2.0)

    def test_times_divided_by_slowdown(self):
        raw = run.end_to_end(self.record, self.ops, 8.0, 100, 2)
        norm = run.end_to_end(self.record, self.ops, 8.0, 100, 2, 2.0)
        self.assertAlmostEqual(raw["pass_s"], 5.0)     # median of 4 and 6
        self.assertAlmostEqual(raw["op_p50_s"], 2.5)
        for k in ("setup_s", "op_p50_s", "pass_s"):
            self.assertAlmostEqual(norm[k], raw[k] / 2)
        self.assertAlmostEqual(norm["rows_per_s"], 100 / norm["pass_s"])

    def test_heap_peak_over_first_samples_only(self):
        m = run.end_to_end(self.record, self.ops, 8.0, 100, 2)
        self.assertEqual(m["heap_peak_mb"], 12.0)


if __name__ == "__main__":
    unittest.main()

"""Unit tests of run.py's pure helpers and of BENCHMARK.json staying in step
with the metrics run.py emits.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(run.pct([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(run.pct(list(range(11)), 0.9), 9.0)

    def test_failed_query_counts_as_infinite(self):
        self.assertEqual(run.pct([1, 2, math.inf], 0.5), 2)
        self.assertTrue(math.isinf(run.pct([1, math.inf, math.inf], 0.5)))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [
            {"id": 1, "parent": 0, "name": "run", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "query", "start_ms": 0, "end_ms": 60},
            {"id": 3, "parent": 2, "name": "build", "start_ms": 0, "end_ms": 10},
            {"id": 4, "parent": 2, "name": "exec", "start_ms": 10, "end_ms": 50},
        ]
        st = run.self_times(spans)
        self.assertEqual((st["run"], st["query"], st["build"], st["exec"]), (40, 10, 10, 40))


class CheckQueryTest(unittest.TestCase):
    FP = {"check": "fingerprint", "expect": "5:11:22"}

    def q(self, fp, ok=True):
        return {"ok": ok, "fp": fp, "wall_ms": 12.5, "error": "boom"}

    def test_check_pass_compares_the_whole_fingerprint(self):
        self.assertEqual(run.check_query(self.q("5:11:22"), self.FP, False), (12.5, None))
        w, problem = run.check_query(self.q("5:11:23"), self.FP, False)
        self.assertTrue(math.isinf(w))
        self.assertIn("fingerprint", problem)

    def test_other_passes_compare_the_row_count(self):
        self.assertEqual(run.check_query(self.q("5"), self.FP, True), (12.5, None))
        w, problem = run.check_query(self.q("6"), self.FP, True)
        self.assertTrue(math.isinf(w))
        self.assertIn("rows 6 != expected 5", problem)

    def test_failed_query_is_infinite(self):
        w, problem = run.check_query(self.q("", ok=False), self.FP, True)
        self.assertTrue(math.isinf(w))
        self.assertIn("boom", problem)


class BenchmarkJsonTest(unittest.TestCase):
    def test_metrics_match_run_py(self):
        with open(os.path.join(os.path.dirname(run.BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]), sorted(run.WORKLOADS))

    def test_every_query_has_an_expected_result(self):
        for w in run.QUERY_WORKLOADS:
            with open(os.path.join(run.BENCH, "workloads", f"{w}.json")) as f:
                spec = json.load(f)
            for name, exp in spec["queries"].items():
                self.assertIn(exp["check"], ("fingerprint", "rows"), name)
                self.assertTrue(exp["expect"], name)


if __name__ == "__main__":
    unittest.main()

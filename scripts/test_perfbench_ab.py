#!/usr/bin/env python3
"""Self-tests for the statistics of perfbench_ab.py (no JVM needed):

    python3 scripts/test_perfbench_ab.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import perfbench_ab as ab  # noqa: E402


class Quartiles(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(ab.quartiles([4, 1, 3, 2, 5]), (2, 3, 4))
        self.assertEqual(ab.quartiles([1, 2, 3, 4]), (1.75, 2.5, 3.25))

    def test_single_sample(self):
        self.assertEqual(ab.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            ab.quartiles([])


class Pairs(unittest.TestCase):
    def test_ties_count_for_neither_side(self):
        self.assertEqual(ab.pair_outcomes([1, 2, 3], [2, 2, 1], "higher"), (1, 1, 1))
        self.assertEqual(ab.pair_outcomes([1, 2, 3], [2, 2, 1], "lower"), (1, 1, 1))


class Verdict(unittest.TestCase):
    PARENT = [20.0, 21.0, 22.0, 23.0, 24.0, 20.5, 21.5, 22.5, 23.5, 24.5]

    def test_gain_needs_nine_of_ten_and_more_than_the_iqr(self):
        change = [p * 1.3 for p in self.PARENT]
        self.assertEqual(ab.verdict(self.PARENT, change, "higher", 0.25)[0], "gain")
        # one more lost pair: 8 of 10 is not a gain
        two_lost = change[:8] + [self.PARENT[8] - 1, self.PARENT[9] - 1]
        self.assertNotEqual(ab.verdict(self.PARENT, two_lost, "higher", 0.25)[0], "gain")
        # every pair won, but by less than the parent's IQR
        slightly = [p + 0.1 for p in self.PARENT]
        self.assertEqual(ab.verdict(self.PARENT, slightly, "higher", 0.25)[0], "ok")

    def test_gain_respects_direction(self):
        faster = [p * 0.5 for p in self.PARENT]
        self.assertEqual(ab.verdict(self.PARENT, faster, "lower", 0.25)[0], "gain")
        self.assertEqual(ab.verdict(self.PARENT, faster, "higher", 0.25)[0], "regression")

    def test_regression_beyond_the_bound_only(self):
        self.assertEqual(ab.verdict(self.PARENT, [p * 1.2 for p in self.PARENT],
                                    "lower", 0.25)[0], "ok")
        self.assertEqual(ab.verdict(self.PARENT, [p * 1.3 for p in self.PARENT],
                                    "lower", 0.25)[0], "regression")

    def test_unresolved_when_the_parent_spreads_wider_than_the_bound(self):
        wide = [10.0, 10.0, 20.0, 20.0]
        self.assertEqual(ab.verdict(wide, [15.0, 15.0, 15.0, 15.0], "lower", 0.25)[0],
                         "unresolved")
        # unless every change run beats every parent run
        self.assertEqual(ab.verdict(wide, [9.0, 9.0, 9.0, 9.5], "lower", 0.25)[0], "ok")


class ParseRun(unittest.TestCase):
    def test_last_line_and_op_medians(self):
        out = ("run: workload=kv_read\n"
               "get_p50_ms 16.2 ms (n=900)\n"
               "scan_p50_ms 201.5 ms (n=32)\n"
               "scan_p99_ms 300 ms (n=32, 1 beyond)\n"
               '{"correct": true, "attempted": 10, "failed": 0, '
               '"metrics": {"ops_per_s": {"value": 30.5, "unit": "1/s"}}}\n')
        res, ops = ab.parse_run(out)
        self.assertEqual(res["metrics"]["ops_per_s"]["value"], 30.5)
        self.assertEqual(ops, {"get_p50_ms": 16.2, "scan_p50_ms": 201.5})

    def test_a_wrong_answer_is_no_run(self):
        out = ("scan_p50_ms 120 ms (n=32)\n"
               '{"correct": false, "attempted": 10, "failed": 0, '
               '"metrics": {"ops_per_s": {"value": 90.0, "unit": "1/s"}}}\n')
        with self.assertRaises(ab.BadRun):
            ab.parse_run(out)

    def test_no_result_is_no_run(self):
        for out in ("", "run: workload=kv_read\nno result: JVM exited 1\n"):
            with self.assertRaises(ab.BadRun):
                ab.parse_run(out)


class Trace(unittest.TestCase):
    @staticmethod
    def res(metrics):
        return {"metrics": {k: {"value": v, "unit": "count"} for k, v in metrics.items()}}

    def test_medians_and_difference_per_reported_layer(self):
        jobs, cg = "spark.jobs_per_op", "spark.codegen_compiles"
        parent = [self.res({jobs: 15.0, cg: 170.0}), self.res({jobs: 15.1}),
                  self.res({jobs: 15.2})]
        change = [self.res({jobs: 15.1, cg: 150.0}), self.res({jobs: 15.3}),
                  self.res({jobs: 15.2})]
        rows = ab.layer_medians(parent, change)
        # names keep TRACE_METRICS' order; one no side reports is left out
        self.assertEqual([r[0] for r in rows], [jobs, cg])
        name, pq, cq, diff = rows[0]
        self.assertEqual((pq[1], cq[1]), (15.1, 15.2))
        self.assertAlmostEqual(diff, 0.1)
        self.assertEqual(rows[1][3], -20.0)


if __name__ == "__main__":
    unittest.main()

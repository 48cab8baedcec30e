#!/usr/bin/env python3
"""Self-tests for the benchmark's own code (no JVM needed):

    python3 perfbench/test_stats.py

Covers the percentile rule, failure counting, and that every metric named
in BENCHMARK.json is reported exactly once, with its declared unit."""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def record(ops=None, checks=None, layers=None):
    """A minimal run record as the benchmark JVM writes it."""
    return {
        "primaries": ["get"],
        "setup_rep_s": [3.0, 1.0, 2.0],
        "warmup_s": 4.0,
        "timed_s": 10.0,
        "cpu_s": 5.0,
        "jit_s": 1.0,
        "gc_s": 0.5,
        "heap_added_bytes": 3000,
        "user_bytes": 100,
        "ops": ops if ops is not None else {
            "get": {"lat_ms": [float(i) for i in range(1, 101)], "attempted": 100,
                    "failed": 0, "errors": []}},
        "checks": checks if checks is not None else [{"name": "c", "ok": True, "detail": ""}],
        "extras": {},
        "layers": layers if layers is not None else {},
        "context": {"jvm_to_session_s": 5.0},
    }


class PercentileRule(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        p, v, beyond = stats.tail(range(1, 101))
        self.assertEqual((p, v, beyond), (90.0, 90, 10))

    def test_thousand_samples_give_p99(self):
        p, v, beyond = stats.tail(range(1, 1001))
        self.assertEqual((p, v, beyond), (99.0, 990, 10))

    def test_ninety_nine_samples_fall_back_to_p75(self):
        p, _, beyond = stats.tail(range(1, 100))
        self.assertEqual(p, 75.0)
        self.assertGreaterEqual(beyond, 10)

    def test_twenty_samples_give_only_the_median(self):
        p, v, beyond = stats.tail(range(1, 21))
        self.assertEqual((p, v, beyond), (50.0, 10, 10))

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(stats.tail(range(1, 20)))
        self.assertIsNone(stats.tail([]))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail(list(range(100, 0, -1))), stats.tail(range(1, 101)))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_tail_lines_carry_the_sample_count(self):
        lines = {n: note for n, _, _, note in stats.op_lines(record())}
        self.assertEqual(lines["get_p90_ms"], "n=100, 10 beyond")
        self.assertEqual(lines["get_p50_ms"], "n=100")

    def test_a_median_only_tail_is_not_printed_twice(self):
        ops = {"get": {"lat_ms": [float(i) for i in range(1, 31)], "attempted": 30,
                       "failed": 0, "errors": []}}
        names = [n for n, _, _, _ in stats.op_lines(record(ops=ops))]
        self.assertEqual(names.count("get_p50_ms"), 1)


class FailureCounting(unittest.TestCase):
    def test_clean_run(self):
        res = stats.result(record(), SPEC, traced=False)
        self.assertEqual((res["correct"], res["attempted"], res["failed"]), (True, 101, 0))

    def test_failed_ops_and_checks_count_and_taint(self):
        ops = {"get": {"lat_ms": [1.0] * 97, "attempted": 100, "failed": 3, "errors": []},
               "scan": {"lat_ms": [], "attempted": 2, "failed": 2, "errors": []}}
        checks = [{"name": "a", "ok": True, "detail": ""}, {"name": "b", "ok": False, "detail": ""}]
        r = record(ops=ops, checks=checks)
        self.assertEqual(stats.counts(r), (104, 6))
        res = stats.result(r, SPEC, traced=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 6)
        rates = {n: v for n, v, _, _ in stats.op_lines(r)}
        self.assertAlmostEqual(rates["error_rate"], 6 / 104.0)
        self.assertAlmostEqual(rates["scan_error_rate"], 1.0)

    def test_warmup_failures_count_though_untimed(self):
        # the harness records warm-up ops as their own kind, with no latencies
        ops = {"get": {"lat_ms": [2.0] * 100, "attempted": 100, "failed": 0, "errors": []},
               "warmup": {"lat_ms": [], "attempted": 75, "failed": 1, "errors": ["wrong"]}}
        r = record(ops=ops)
        self.assertEqual(stats.counts(r), (176, 1))
        res = stats.result(r, SPEC, traced=False)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        e2e = stats.end_to_end(r)
        self.assertAlmostEqual(e2e["ops_per_s"], 10.0)
        self.assertEqual(e2e["op_p50_ms"], 2.0)

    def test_failed_ops_are_not_timed_as_successes(self):
        # ops_per_s counts completed (successful, timed) ops only
        ops = {"get": {"lat_ms": [5.0] * 40, "attempted": 50, "failed": 10, "errors": []}}
        e2e = stats.end_to_end(record(ops=ops))
        self.assertAlmostEqual(e2e["ops_per_s"], 4.0)
        self.assertEqual(e2e["op_p50_ms"], 5.0)


class MetricsAsDeclared(unittest.TestCase):
    def check_once_with_unit(self, res, declared):
        text = json.dumps(res)
        for m in declared:
            self.assertEqual(text.count('"%s"' % m["name"]), 1, m["name"])
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(set(res["metrics"]), {m["name"] for m in declared})
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})

    def test_untraced_reports_every_end_to_end_metric_once(self):
        self.check_once_with_unit(stats.result(record(), SPEC, traced=False), SPEC["end_to_end"])

    def test_traced_reports_every_per_layer_metric_once(self):
        layers = {m["name"]: 1.5 for m in SPEC["per_layer"]}
        layers["not.declared"] = 7.0
        res = stats.result(record(layers=layers), SPEC, traced=True)
        self.check_once_with_unit(res, SPEC["per_layer"])

    def test_a_missing_metric_is_an_error_not_a_zero(self):
        layers = {m["name"]: 1.5 for m in SPEC["per_layer"][1:]}
        with self.assertRaises(KeyError):
            stats.result(record(layers=layers), SPEC, traced=True)

    def test_op_p50_averages_the_primary_kinds_medians(self):
        ops = {"a": {"lat_ms": [1.0, 2.0, 30.0], "attempted": 3, "failed": 0, "errors": []},
               "b": {"lat_ms": [10.0, 20.0, 40.0, 50.0], "attempted": 4, "failed": 0, "errors": []}}
        r = record(ops=ops)
        r["primaries"] = ["a", "b"]
        self.assertAlmostEqual(stats.end_to_end(r)["op_p50_ms"], (2.0 + 30.0) / 2)

    def test_setup_is_session_plus_median_rep_plus_warmup(self):
        self.assertAlmostEqual(stats.end_to_end(record())["setup_s"], 5.0 + 2.0 + 4.0)


class SpecShape(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_names_units_bounds(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + \
            [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertRegex(m["unit"], self.UNIT)
            self.assertLessEqual(m["bound"], 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], self.UNIT)
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])


if __name__ == "__main__":
    unittest.main()

"""Unit tests for the benchmark's arithmetic and output check.

    python3 -m unittest discover -s perfbench/tests
"""
import decimal
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import benchmath  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


class PercentileTest(unittest.TestCase):
    def test_matches_inclusive_quantiles(self):
        xs = [0.31, 0.12, 0.55, 0.47, 0.2, 0.9, 0.33, 0.61]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(benchmath.percentile(xs, 0.5), q2)
        self.assertAlmostEqual(benchmath.percentile(xs, 0.75), q3)

    def test_single_value(self):
        self.assertEqual(benchmath.percentile([2.5], 0.75), 2.5)

    def test_samples_above_p75(self):
        # ten executions above p75 take 38 distinct samples; 37 leave nine
        xs = [float(i) for i in range(38)]
        self.assertEqual(benchmath.count_above(xs, benchmath.percentile(xs, 0.75)), 10)
        fewer = xs[:-1]
        self.assertEqual(benchmath.count_above(fewer, benchmath.percentile(fewer, 0.75)), 9)


class IntervalTest(unittest.TestCase):
    def test_idle_is_wall_minus_union_of_tasks(self):
        tasks = [(1, 3), (2, 4), (6, 7), (9, 15)]
        # busy: [1,4] + [6,7] + [9,10] clipped to the query = 5 of 10
        self.assertEqual(benchmath.idle_time(0, 10, tasks), 5)

    def test_nested_and_touching_intervals(self):
        self.assertEqual(benchmath.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_no_tasks_is_all_idle(self):
        self.assertEqual(benchmath.idle_time(5, 8, []), 3)


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part(self):
        spans = [
            {"id": "q", "parent": None, "start": 0, "end": 10},
            {"id": "a", "parent": "q", "start": 1, "end": 3},
            {"id": "b", "parent": "q", "start": 2, "end": 5},
            {"id": "c", "parent": "q", "start": 8, "end": 12},
            {"id": "a1", "parent": "a", "start": 1, "end": 2},
        ]
        s = benchmath.self_times(spans)
        self.assertEqual(s["q"], 10 - 6)  # children cover [1,5] and [8,10]
        self.assertEqual(s["a"], 1)
        self.assertEqual(s["c"], 4)

    def test_spans_of_links_jobs_and_batches_to_phases(self):
        e = {"id": "x", "query": "es01", "start": 0, "built": 40, "planned": 45,
             "executed": 90, "end": 95,
             "jobs": [{"id": 1, "start": 10, "end": 20,
                       "stages": [{"id": 3, "start": 11, "end": 19}]},
                      {"id": 2, "start": 50, "end": 80, "stages": []}],
             "streams": [{"run_id": "r", "name": "g", "start": 5, "end": 35,
                          "batches": [{"batch": 0, "start": 8, "trigger_ms": 20}]}]}
        parents = {s["id"]: s["parent"] for s in benchmath.spans_of(e)}
        self.assertEqual(parents["x/job1"], "x/build")
        self.assertEqual(parents["x/job2"], "x/exec")
        self.assertEqual(parents["x/job1/stage3"], "x/job1")
        self.assertEqual(parents["x/gate:r"], "x/build")
        self.assertEqual(parents["x/gate:r/batch0"], "x/gate:r")


class MetricNameTest(unittest.TestCase):
    def metrics(self, trace):
        return {m["name"]: {"value": 1.5, "unit": m["unit"]}
                for m in BENCH["per_layer" if trace else "end_to_end"]}

    def test_declared_metrics_pass(self):
        for trace in (0, 1):
            self.assertEqual(benchmath.validate_metrics(self.metrics(trace), BENCH, trace), [])

    def test_missing_undeclared_and_wrong_unit_are_named(self):
        m = self.metrics(0)
        del m["setup_s"]
        m["made_up"] = {"value": 1.0, "unit": "s"}
        m["warm_pass_s"]["unit"] = "ms"
        m["cold_pass_s"]["value"] = float("nan")
        problems = " | ".join(benchmath.validate_metrics(m, BENCH, 0))
        for word in ("missing metric setup_s", "undeclared metric made_up",
                     "warm_pass_s: unit", "cold_pass_s: value"):
            self.assertIn(word, problems)

    def test_layer_figures_cover_the_per_layer_list(self):
        e = {"id": "x", "query": "q01", "layer": "queries", "start": 0, "built": 1,
             "planned": 2, "executed": 3, "end": 4}
        derived = {"core.session_create_s", "trace.overhead_s", "jvm.peak_rss_mb", "jvm.live_heap_mb"}
        declared = {m["name"] for m in BENCH["per_layer"]}
        self.assertEqual(set(benchmath.layer_figures(e, 4)) - {"exec.wall_s"}, declared - derived)


class ConfigTest(unittest.TestCase):
    def test_workloads_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "workloads.json")) as f:
            config = json.load(f)
        self.assertEqual(sorted(config["workloads"]), sorted(w["name"] for w in BENCH["workloads"]))

    def test_layer_map_covers_each_per_layer_metric_once(self):
        with open(os.path.join(os.path.dirname(HERE), "layers.json")) as f:
            layers = json.load(f)["layers"]
        mapped = [m for entry in layers for m in entry["metrics"]]
        self.assertEqual(sorted(mapped), sorted(m["name"] for m in BENCH["per_layer"]))
        e2e = {m["name"] for m in BENCH["end_to_end"]}
        workloads = {w["name"] for w in BENCH["workloads"]}
        for entry in layers:
            self.assertLessEqual(set(entry["moves"]), e2e)
            self.assertLessEqual(set(entry["workloads"]), workloads)


class OracleCanonTest(unittest.TestCase):
    def setUp(self):
        import pandas as pd
        self.pd = pd

    def test_column_and_row_order_do_not_matter(self):
        a = self.pd.DataFrame({"k": [2, 1], "v": [0.5, 0.25]})
        b = self.pd.DataFrame({"v": [0.25, 0.5], "k": [1, 2]})
        self.assertEqual(oracle.check(oracle.digest(oracle.canon(a)),
                                      oracle.digest(oracle.canon(b))), "")

    def test_decimals_compare_as_floats(self):
        a = self.pd.DataFrame({"s": [decimal.Decimal("1.25")]})
        b = self.pd.DataFrame({"s": [1.25]})
        self.assertEqual(oracle.canon(a), oracle.canon(b))

    def test_planted_mismatch_is_reported(self):
        good = self.pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.0]})
        bad = self.pd.DataFrame({"k": [1, 2], "v": [0.3, 1.0]})  # differs in the last digit
        verdict = oracle.check(oracle.digest(oracle.canon(good)), oracle.digest(oracle.canon(bad)))
        self.assertIn("values differ", verdict)
        short = oracle.check(oracle.digest(oracle.canon(good)), oracle.digest(oracle.canon(bad[:1])))
        self.assertIn("spark 1 rows vs oracle 2 rows", short)


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own arithmetic and of its workload record.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import random
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import benchlib  # noqa: E402
import mix  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolates_like_numpy_linear(self):
        xs = [1, 2, 3, 4, 5]
        self.assertEqual(benchlib.percentile(xs, 50), 3)
        self.assertAlmostEqual(benchlib.percentile(xs, 95), 4.8)
        self.assertEqual(benchlib.percentile([7], 95), 7)
        self.assertTrue(math.isnan(benchlib.percentile([], 50)))

    def test_order_does_not_matter(self):
        xs = [random.Random(3).random() for _ in range(101)]
        self.assertEqual(benchlib.percentile(xs, 90),
                         benchlib.percentile(sorted(xs), 90))

    def test_samples_beyond(self):
        # 200 samples: index 189.05 is p95, so indices 190..199 lie beyond
        self.assertEqual(benchlib.samples_beyond(200, 95), 10)
        # 182 is the fewest with ten beyond p95 (index 171.95)
        self.assertEqual(benchlib.samples_beyond(182, 95), 10)
        self.assertEqual(benchlib.samples_beyond(181, 95), 9)
        self.assertEqual(benchlib.samples_beyond(0, 50), 0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(benchlib.highest_supported_percentile(200), 95.0)
        self.assertEqual(benchlib.highest_supported_percentile(182), 95.0)
        self.assertEqual(benchlib.highest_supported_percentile(181), 90.0)
        self.assertEqual(benchlib.highest_supported_percentile(1000), 99.0)
        self.assertEqual(benchlib.highest_supported_percentile(10001), 99.9)
        self.assertEqual(benchlib.highest_supported_percentile(40), 75.0)
        self.assertIsNone(benchlib.highest_supported_percentile(19))
        for n in range(1, 3000, 7):
            p = benchlib.highest_supported_percentile(n)
            if p is not None:
                self.assertGreaterEqual(benchlib.samples_beyond(n, p), 10)

    def test_geomean(self):
        self.assertAlmostEqual(benchlib.geomean([1, 100]), 10)
        self.assertTrue(math.isnan(benchlib.geomean([])))


class DriverGap(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(benchlib.union_length([]), 0)
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(benchlib.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3), (9, 12)]), 12)
        self.assertEqual(benchlib.union_length([(5, 5), (3, 2)]), 0)

    def test_gap_is_window_minus_union_of_clipped_jobs(self):
        # window [0, 100]; jobs cover [10, 40] and [30, 50] and run past
        # the window end from 90: busy 40 + 10
        jobs = [(10, 40), (30, 50), (90, 130), (-20, -5)]
        self.assertEqual(benchlib.driver_gap(0, 100, jobs), 50)
        self.assertEqual(benchlib.driver_gap(0, 100, []), 100)
        self.assertEqual(benchlib.driver_gap(0, 100, [(-1, 101)]), 0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_part_once(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0, "end_ms": 100},
            # two overlapping children cover [10, 60]
            {"id": 2, "parent": 1, "start_ms": 10, "end_ms": 50},
            {"id": 3, "parent": 1, "start_ms": 40, "end_ms": 60},
            # grandchild only reduces its own parent
            {"id": 4, "parent": 2, "start_ms": 20, "end_ms": 30},
            # a child that outlives its parent counts only inside it
            {"id": 5, "parent": 3, "start_ms": 55, "end_ms": 80},
        ]
        own = benchlib.self_times(spans)
        self.assertEqual(own, {1: 50, 2: 30, 3: 15, 4: 10, 5: 25})


class ResultLine(unittest.TestCase):
    def test_always_parses_with_exact_keys(self):
        line = benchlib.result_line(
            False, 0, 2, {"a": (float("nan"), "ms"), "b": (float("inf"), "s"),
                          "c": (1.25, "1/s")})
        out = json.loads(line)
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(out["attempted"], 1)
        self.assertEqual(out["metrics"]["a"], {"value": 0.0, "unit": "ms"})
        self.assertEqual(out["metrics"]["c"]["value"], 1.25)
        self.assertNotIn("\n", line)


class TimedOut(unittest.TestCase):
    def test_killed_run_reports_every_metric_no_better_than_it_was(self):
        import run
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = json.loads(run.timed_out_result(160.0, trace))
            self.assertFalse(out["correct"])
            self.assertEqual(out["attempted"], out["failed"])
            self.assertEqual(set(out["metrics"]), {m["name"] for m in run.SPEC[key]})
        m = json.loads(run.timed_out_result(160.0, 0))["metrics"]
        self.assertEqual(m["setup_s"]["value"], 160.0)
        self.assertEqual(m["cpu_ms_per_op"]["value"], 160000.0)
        layers = json.loads(run.timed_out_result(160.0, 1))["metrics"]
        self.assertEqual(layers["rows_per_cpu_s"]["value"], 0.0)
        self.assertEqual(layers["jvm.heap_after_gc_mb"]["value"], 3072.0)


class Record(unittest.TestCase):
    """BENCHMARK.json and the workload record agree."""

    def setUp(self):
        with open(os.path.join(BENCH, "workloads.json")) as f:
            self.spec = json.load(f)
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_metric_lists_match(self):
        for key in ("end_to_end", "per_layer"):
            self.assertEqual(
                [(m["name"], m["unit"], m["better"]) for m in self.bench[key]],
                [(m["name"], m["unit"], m["better"]) for m in self.spec[key]])
        self.assertEqual([m["bound"] for m in self.bench["end_to_end"]],
                         [m["bound"] for m in self.spec["end_to_end"]])

    def test_workloads_are_recorded(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], self.spec["workloads"])
        for m in self.spec["per_layer"]:
            self.assertTrue(m["moves"])
        names = [e["name"] for e in self.spec["workloads"]["engine_suite"]["entries"]]
        self.assertIn("q43_approx_distinct", names)
        self.assertEqual(len(names), len(set(names)))


class Mix(unittest.TestCase):
    def test_kind_shares_are_fixed_and_seed_only_moves_keys(self):
        counts = {"orders": 1500, "customer": 150, "part": 200}
        a = mix.pool(random.Random(1), counts)
        b = mix.pool(random.Random(2), counts)
        self.assertEqual([k for _, k, _ in a], [k for _, k, _ in b])
        self.assertNotEqual(a, b)
        sched = mix.schedule(a, 0, 200)
        kinds = [a[i][1] for i in sched]
        self.assertEqual(sum(k == "lookup" for k in kinds), 75)
        self.assertEqual(sum(k == "save" for k in kinds), 5)
        self.assertEqual(sum(k == "scan" for k in kinds), 60)
        self.assertEqual(sum(k == "agg" for k in kinds), 40)
        self.assertEqual(sum(k.startswith("reject") for k in kinds), 20)


if __name__ == "__main__":
    unittest.main()

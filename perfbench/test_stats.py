"""Tests of the benchmark's own arithmetic and of BENCHMARK.json's
agreement with the report.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(39))
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_at_least_ten_samples_lie_beyond_the_tail_value(self):
        for n in (40, 57, 100, 250, 1234, 20000):
            xs = list(range(n))
            p, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertEqual(stats.percentile(xs, 80), 4)
        self.assertEqual(stats.percentile(xs, 81), 5)
        self.assertEqual(stats.percentile(list(range(1, 101)), 95), 95)

    def test_failed_operation_counts_as_infinite(self):
        xs = [1.0] * 39 + [float("inf")]
        self.assertEqual(stats.median(xs), 1.0)
        self.assertEqual(stats.percentile(xs, 100), float("inf"))


class SelfTime(unittest.TestCase):
    def test_no_jobs_is_all_self_time(self):
        self.assertEqual(stats.self_time(0, 100, []), 100)

    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.self_time(0, 100, [(10, 40), (30, 50)]), 60)

    def test_disjoint_and_nested_jobs(self):
        self.assertEqual(stats.self_time(0, 100, [(10, 20), (12, 18), (70, 80)]), 80)

    def test_jobs_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time(10, 20, [(0, 15), (18, 40), (50, 60)]), 3)
        self.assertEqual(stats.covered(10, 20, [(0, 15), (18, 40)]), 7)

    def test_fully_covered_span(self):
        self.assertEqual(stats.self_time(5, 9, [(0, 100)]), 0)

    def test_span_table_counts_jobs_of_the_subtree(self):
        sec = {"spans": [
            {"id": 1, "name": "core.lookup", "start": 0.0, "end": 100.0, "parent": 0, "req": 1},
            {"id": 2, "name": "plans.lookup", "start": 5.0, "end": 15.0, "parent": 1, "req": 1}],
            "jobs": [
                {"id": 0, "span": 1, "start": 20.0, "end": 60.0, "stages": 1, "tasks": 4,
                 "shuffle_bytes": 0, "output_bytes": 0, "input_bytes": 0},
                {"id": 1, "span": 2, "start": 10.0, "end": 12.0, "stages": 1, "tasks": 1,
                 "shuffle_bytes": 8, "output_bytes": 0, "input_bytes": 0}]}
        t = run.span_table(sec)
        self.assertEqual(t[1]["jobs"], 2)
        self.assertEqual(t[1]["tasks"], 5)
        self.assertEqual(t[1]["job_ms"], 42.0)
        self.assertEqual(t[1]["driver_ms"], 58.0)
        self.assertEqual(t[2]["driver_ms"], 8.0)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [10.0, 12.0, 11.0, 13.0, 10.5, 11.5, 12.5, 10.2, 11.1, 12.2]
        med, q1, q3, sp = stats.spread(xs)
        e1, e2, e3 = statistics.quantiles(xs, n=4)
        self.assertEqual((med, q1, q3), (e2, e1, e3))
        self.assertAlmostEqual(sp, (e3 - e1) / e2)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_agree_with_the_report(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         [(n, u, b) for n, u, b, _ in run.PER_LAYER])
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()

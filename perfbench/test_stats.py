"""Tests for the benchmark's pure logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import stats  # noqa: E402


class TypicalPass(unittest.TestCase):
    def test_sum_of_per_operation_medians(self):
        ops = [("a", 1.0), ("b", 2.0), ("a", 9.0), ("b", 2.2), ("a", 1.2), ("b", 2.4)]
        self.assertAlmostEqual(stats.typical_pass(ops), 1.2 + 2.2)

    def test_single_operation_per_pass_is_the_median_pass(self):
        self.assertEqual(stats.typical_pass([("burst", x) for x in (3, 1, 2)]), 2)


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        # p99 of 1000 samples has exactly 10 beyond its rank
        self.assertEqual(stats.percentile(list(range(1, 1001)), 99), (990, 1000))
        # ...and of 999 it has 9, so it is not reported
        self.assertIsNone(stats.percentile(list(range(1, 1000)), 99))

    def test_median_of_small_sample(self):
        self.assertEqual(stats.percentile(list(range(1, 22)), 50), (11, 21))
        self.assertIsNone(stats.percentile(list(range(1, 20)), 50))

    def test_lost_records_sort_last(self):
        vals = [1.0] * 989 + [math.inf] * 11
        self.assertEqual(stats.percentile(vals, 99), (math.inf, 1000))
        self.assertEqual(stats.percentile(vals, 50)[0], 1.0)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))


class Intervals(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)

    def test_union_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_union_ignores_empty(self):
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # a 100-unit pass with jobs covering 0-30 and 20-50 and 90-120
        self.assertEqual(stats.driver_gap(0, 100, [(0, 30), (20, 50), (90, 120)]), 40)

    def test_driver_gap_without_jobs(self):
        self.assertEqual(stats.driver_gap(10, 20, []), 10)


class SelfTime(unittest.TestCase):
    def test_overlapping_children(self):
        self.assertEqual(stats.self_time(0, 100, [(10, 40), (30, 60)]), 50)

    def test_children_outside_parent_are_clipped(self):
        self.assertEqual(stats.self_time(0, 100, [(-20, 10), (90, 130), (200, 300)]), 80)

    def test_fully_covered(self):
        self.assertEqual(stats.self_time(0, 10, [(0, 6), (5, 10)]), 0)


class Latency(unittest.TestCase):
    def test_from_due_time_and_lost_is_infinite(self):
        due = {1: 100, 2: 200, 3: 300}
        arrived = {1: 150, 3: 420}
        self.assertEqual(sorted(stats.due_latencies(due, arrived)), [50, 120, math.inf])

    def test_lost_record_dominates_tail(self):
        due = {i: 0 for i in range(1100)}
        arrived = {i: 5 for i in range(1100) if i != 7}
        p = stats.percentile(stats.due_latencies(due, arrived), 99)
        self.assertEqual(p, (5, 1100))
        self.assertEqual(max(stats.due_latencies(due, arrived)), math.inf)


class Backlog(unittest.TestCase):
    def test_flat_backlog_is_steady(self):
        samples = [(t * 0.25, 300 + (t % 2) * 50) for t in range(20)]
        self.assertFalse(stats.backlog_growing(samples, offered_rate=400))

    def test_growing_backlog_is_flagged(self):
        samples = [(t * 0.25, 100 * t) for t in range(20)]  # +400 records/s
        self.assertAlmostEqual(stats.slope(samples), 400)
        self.assertTrue(stats.backlog_growing(samples, offered_rate=400))

    def test_draining_backlog_is_steady(self):
        samples = [(t, 1000 - 100 * t) for t in range(10)]
        self.assertFalse(stats.backlog_growing(samples, offered_rate=400))

    def test_too_few_samples(self):
        self.assertEqual(stats.slope([(0, 5)]), 0.0)


class StreamLedger(unittest.TestCase):
    LEDGER = {1: "a bc", 2: "def", 3: "g h i"}

    def test_exactly_once_passes(self):
        arrivals = [(1, 10, 3, 2), (2, 11, 3, 1), (3, 12, 3, 3)]
        attempted, failed, seen, problems = check.check_stream(
            self.LEDGER, {1: 0, 2: 0, 3: 0}, arrivals)
        self.assertEqual((attempted, failed, problems), (3, 0, []))
        self.assertEqual(seen, {1: 10, 2: 11, 3: 12})

    def test_missing_duplicated_and_wrong_fail(self):
        arrivals = [(1, 10, 3, 2), (1, 11, 3, 2), (2, 12, 9, 9)]
        attempted, failed, _, problems = check.check_stream(
            self.LEDGER, {1: 0, 2: 0, 3: 0}, arrivals)
        self.assertEqual((attempted, failed), (3, 3))
        self.assertEqual(len(problems), 3)


class Inputs(unittest.TestCase):
    def test_seed_decides_the_bytes(self):
        import tempfile
        import gen
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.write_tables(f"{d}/{name}", seed)
                gen.write_stream(f"{d}/{name}", seed)

            def data(name, f):
                with open(f"{d}/{name}/{f}", "rb") as fh:
                    return fh.read()
            for f in ("documents.parquet", "embeddings.parquet", "stream.tsv"):
                self.assertEqual(data("a", f), data("b", f), f)
                self.assertNotEqual(data("a", f), data("c", f), f)


class Fingerprint(unittest.TestCase):
    def test_order_insensitive_and_type_aware(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
        b = pd.DataFrame({"y": ["q", "p"], "x": [2, 1]})
        c = pd.DataFrame({"x": [1.0, 2.0], "y": ["p", "q"]})
        self.assertEqual(check.fingerprint(a), check.fingerprint(b))
        self.assertNotEqual(check.fingerprint(a), check.fingerprint(c))
        self.assertEqual(check.fingerprint(a)[0], 2)


if __name__ == "__main__":
    unittest.main()

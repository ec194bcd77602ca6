"""Tests of the benchmark's own statistics and canonical result form.

    python3 -m unittest discover perfbench/tests
"""
import datetime
import decimal
import math
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import expected  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_picks_a_measured_sample(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(values, 50), 3.0)
        self.assertEqual(stats.percentile(values, 90), 5.0)
        self.assertEqual(stats.percentile(values, 20), 1.0)
        self.assertEqual(stats.percentile(values, 21), 2.0)
        self.assertEqual(stats.percentile(values, 100), 5.0)
        self.assertEqual(stats.percentile(values, 0), 1.0)

    def test_even_count_median_is_the_lower_middle(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2)

    def test_ten_samples_beyond_p90_of_a_hundred(self):
        values = list(range(1, 101))
        p90 = stats.percentile(values, 90)
        self.assertEqual(p90, 90)
        self.assertEqual(sum(1 for v in values if v > p90), 10)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([2.0, 8.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([3.0]), 3.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_pair_ratios_take_each_querys_median(self):
        # a: ratios 3, 1.1 and 2, median 2 (the fastest samples would give 2.2); b: 1
        pairs = {"a": [(300.0, 100.0), (220.0, 200.0), (400.0, 200.0)], "b": [(40.0, 40.0)]}
        self.assertAlmostEqual(stats.pair_speedup_geomean(pairs), math.sqrt(2.0))

    def test_a_slower_rule_reads_below_one(self):
        self.assertAlmostEqual(stats.pair_speedup_geomean({"q": [(100.0, 200.0)]}), 0.5)

    def test_every_query_needs_a_pair(self):
        with self.assertRaises(ValueError):
            stats.pair_speedup_geomean({"a": [(1.0, 1.0)], "b": []})
        with self.assertRaises(ValueError):
            stats.pair_speedup_geomean({})


class ScheduleTest(unittest.TestCase):
    queries = ["1a", "12a", "23a", "q01", "v01"]

    def test_same_seed_same_schedule(self):
        self.assertEqual(stats.schedule(self.queries, 7, 5),
                         stats.schedule(self.queries, 7, 5))

    def test_other_seed_other_schedule(self):
        self.assertNotEqual(stats.schedule(self.queries, 7, 5),
                            stats.schedule(self.queries, 8, 5))

    def test_each_pass_pairs_every_query_once(self):
        for items in stats.schedule(self.queries, 3, 20):
            self.assertEqual(len(items), 2 * len(self.queries))
            pairs = [items[i:i + 2] for i in range(0, len(items), 2)]
            self.assertEqual(sorted(p[0][0] for p in pairs), sorted(self.queries))
            for (q1, r1), (q2, r2) in pairs:
                self.assertEqual(q1, q2)
                self.assertEqual({r1, r2}, {"on", "off"})

    def test_order_and_first_side_vary_with_the_seed(self):
        passes = stats.schedule(self.queries, 11, 40)
        self.assertGreater(len({tuple(p[0] for p in items[::2]) for items in passes}), 1)
        firsts = [items[i][1] for items in passes for i in range(0, len(items), 2)]
        self.assertGreater(firsts.count("on"), 0.3 * len(firsts))
        self.assertGreater(firsts.count("off"), 0.3 * len(firsts))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60)

    def test_no_children(self):
        self.assertEqual(stats.self_time((5, 15), []), 10)


class SpreadTest(unittest.TestCase):
    def test_spread_matches_statistics_quantiles(self):
        values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
        q1, med, q3, sp = stats.spread(values)
        want_q1, _, want_q3 = statistics.quantiles(values, n=4)
        self.assertEqual((q1, q3), (want_q1, want_q3))
        self.assertEqual(med, statistics.median(values))
        self.assertAlmostEqual(sp, (want_q3 - want_q1) / statistics.median(values))


class CanonicalTest(unittest.TestCase):
    """The Python half of the canonical form; Canon.scala is the other."""

    def test_numbers(self):
        self.assertEqual(expected.value(0.1 + 0.2), "0.3")
        self.assertEqual(expected.value(100.0), "100")
        self.assertEqual(expected.value(-0.0), "0")
        self.assertEqual(expected.value(1e-7), "0.0000001")
        self.assertEqual(expected.value(123456789012345.0), "123456789012000")
        self.assertEqual(expected.value(12345678901234567), "12345678901234567")
        self.assertEqual(expected.value(decimal.Decimal("1.50")), "1.5")

    def test_other_values(self):
        self.assertIsNone(expected.value(None))
        self.assertEqual(expected.value(True), "true")
        self.assertEqual(expected.value(b"\x01\xff"), "01ff")
        self.assertEqual(expected.value(datetime.date(2024, 2, 29)), "2024-02-29")
        self.assertEqual(expected.value(datetime.datetime(2024, 1, 2, 3, 4, 5)),
                         "2024-01-02 03:04:05.000000")
        self.assertEqual(expected.value([1, None, "x"]), ["1", None, "x"])

    def test_result_is_order_insensitive_and_names_columns(self):
        a = expected.canonical(["b", "a"], [(1, "x"), (2, "é")])
        b = expected.canonical(["b", "a"], [(2, "é"), (1, "x")])
        self.assertEqual(a, b)
        self.assertEqual(a["cols"], ["a", "b"])
        self.assertEqual(a["rows"], 2)
        self.assertNotEqual(a, expected.canonical(["b", "a"], [(1, "x")]))


if __name__ == "__main__":
    unittest.main()

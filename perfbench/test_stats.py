"""Unit tests of the benchmark's own statistics and span arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def span(id, parent, kind, start, end, name="s", **attrs):
    return {"id": id, "parent": parent, "kind": kind, "name": name,
            "start_ms": start, "end_ms": end, "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_median_of_odd_and_even_counts(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50)["value"], 2)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50)["value"], 2.5)

    def test_interpolates_between_closest_ranks(self):
        p = stats.percentile(range(1, 21), 95)   # rank 18.05 of 0..19
        self.assertAlmostEqual(p["value"], 19.05)
        self.assertEqual(p["n"], 20)
        self.assertEqual(p["beyond"], 1)

    def test_sample_count_and_tail_count(self):
        xs = list(range(200))
        p = stats.percentile(xs, 95)
        self.assertEqual(p["n"], 200)
        self.assertEqual(p["beyond"], 10)

    def test_extremes_and_single_sample(self):
        self.assertEqual(stats.percentile([5, 9, 7], 0)["value"], 5)
        self.assertEqual(stats.percentile([5, 9, 7], 100)["value"], 9)
        self.assertEqual(stats.percentile([42.5], 95),
                         {"value": 42.5, "n": 1, "beyond": 0})

    def test_agrees_with_statistics_inclusive_quantiles(self):
        xs = [0.31, 0.12, 0.98, 0.45, 0.27, 0.66, 0.52, 0.08, 0.71]
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25)["value"], q1)
        self.assertAlmostEqual(stats.percentile(xs, 50)["value"], med)
        self.assertAlmostEqual(stats.percentile(xs, 75)["value"], q3)

    def test_rejects_empty_and_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 101)


class UnionTest(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25)]), 20)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_ms([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipping(self):
        self.assertEqual(stats.union_ms([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(stats.union_ms([(0, 4)], 5, 25), 0)
        self.assertEqual(stats.union_ms([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part_once(self):
        root = span(1, 0, "query", 0, 100)
        kids = stats.children([root, span(2, 1, "phase", 10, 40),
                               span(3, 1, "phase", 30, 60),
                               span(4, 1, "phase", 90, 120)])
        # children cover 10..60 and 90..100 inside the parent: 60 ms
        self.assertEqual(stats.self_ms(root, kids), 40)

    def test_leaf_self_time_is_its_duration(self):
        leaf = span(1, 0, "job", 5, 17)
        self.assertEqual(stats.self_ms(leaf, stats.children([leaf])), 12)

    def test_query_breakdown_tiles_query(self):
        spans = [
            span(1, 0, "query", 0, 100, "q"),
            span(2, 1, "phase", 0, 30, "build"),
            span(3, 1, "phase", 30, 40, "plan"),
            span(4, 1, "phase", 40, 100, "consume"),
            span(5, 2, "job", 10, 25),          # barrier inside build
            span(6, 4, "job", 45, 90),
            span(7, 4, "job", 50, 95),          # concurrent with job 6
        ]
        b = stats.query_breakdown(spans[0], stats.children(spans))
        self.assertEqual(b["job_ms"], 15 + 50)
        self.assertEqual(b["self_ms"], 15 + 10 + 10)
        self.assertEqual(b["cover"], 1.0)
        self.assertEqual(b["outside_ms"], 0)
        self.assertEqual(b["phases"], {"build": 30, "plan": 10, "consume": 60})

    def test_query_breakdown_reports_gaps_and_strays(self):
        spans = [
            span(1, 0, "query", 0, 100, "q"),
            span(2, 1, "phase", 0, 40, "build"),
            span(3, 1, "phase", 50, 100, "consume"),   # 40..50 is untraced
            span(4, 3, "job", 90, 110),                # ends after the query
        ]
        b = stats.query_breakdown(spans[0], stats.children(spans))
        self.assertEqual(b["job_ms"], 10)
        self.assertEqual(b["outside_ms"], 10)
        self.assertEqual(b["self_ms"], 40 + 40)
        self.assertAlmostEqual(b["cover"], 0.9)

    def test_descendants_by_kind(self):
        spans = [span(1, 0, "workload", 0, 9), span(2, 1, "pass", 0, 9),
                 span(3, 2, "query", 0, 9), span(4, 3, "job", 1, 2)]
        kids = stats.children(spans)
        self.assertEqual([s["id"] for s in stats.descendants(1, kids, "job")], [4])
        self.assertEqual(len(stats.descendants(1, kids)), 3)


if __name__ == "__main__":
    unittest.main()

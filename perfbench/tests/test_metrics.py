import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(0))
        self.assertIsNone(metrics.tail_percentile(32))
        self.assertIsNone(metrics.tail_percentile(99))
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(999), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10_000), 99.9)

    def test_reported_tail_leaves_ten_samples_beyond(self):
        for n in (100, 150, 1000, 5000, 10_000):
            p = metrics.tail_percentile(n)
            xs = list(range(n))
            v = metrics.nearest_rank(xs, p)
            self.assertGreaterEqual(sum(x > v for x in xs), 10, (n, p))

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.nearest_rank(xs, 50), 3)
        self.assertEqual(metrics.nearest_rank(xs, 100), 5)
        self.assertEqual(metrics.nearest_rank(xs, 1), 1)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, name, start, end, trace=1):
        return (trace, i, parent, name, start, end)

    def test_leaf_self_time_is_its_duration(self):
        got = metrics.self_times([self.span(1, 0, "op", 0, 10)])
        self.assertEqual(got, {"op": 10})

    def test_children_coverage_is_subtracted_once(self):
        spans = [self.span(1, 0, "op", 0, 100),
                 self.span(2, 1, "a", 10, 40),
                 self.span(3, 1, "b", 30, 50),   # overlaps a: 10..50 covered
                 self.span(4, 1, "c", 70, 80),
                 self.span(5, 2, "a.inner", 15, 25)]
        got = metrics.self_times(spans)
        self.assertEqual(got["op"], 100 - 40 - 10)
        self.assertEqual(got["a"], 30 - 10)
        self.assertEqual(got["b"], 20)
        self.assertEqual(got["c"], 10)
        self.assertEqual(got["a.inner"], 10)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, "op", 0, 10), self.span(2, 1, "x", 5, 20)]
        self.assertEqual(metrics.self_times(spans)["op"], 5)

    def test_same_name_accumulates_across_traces(self):
        spans = [self.span(1, 0, "op", 0, 10, trace=1),
                 self.span(2, 1, "io", 0, 4, trace=1),
                 self.span(3, 0, "op", 0, 10, trace=2),
                 self.span(4, 3, "io", 2, 8, trace=2)]
        got = metrics.self_times(spans)
        self.assertEqual(got, {"op": 6 + 4, "io": 4 + 6})

    def test_spans_of_another_trace_are_not_children(self):
        spans = [self.span(1, 0, "op", 0, 10, trace=1),
                 self.span(2, 1, "io", 0, 10, trace=2)]
        self.assertEqual(metrics.self_times(spans)["op"], 10)


if __name__ == "__main__":
    unittest.main()

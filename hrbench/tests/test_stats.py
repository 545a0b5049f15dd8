"""The tail-percentile rule and span self time."""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import attach, layer_totals, median, self_times, tail, union_length  # noqa: E402,E501


def span(i, parent, a, b, layer="x"):
    return {"id": i, "parent": parent, "start_us": a, "end_us": b,
            "layer": layer}


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(tail(list(range(1, 21)))[0], 50.0)
        self.assertEqual(tail(list(range(1, 41))), (75.0, 30.0))
        self.assertEqual(tail(list(range(1, 101))), (90.0, 90.0))
        self.assertEqual(tail(list(range(1, 201)))[0], 95.0)
        self.assertEqual(tail(list(range(1, 1001)))[0], 99.0)
        self.assertEqual(tail(list(range(1, 10001)))[0], 99.9)

    def test_few_samples_fall_back_to_the_median(self):
        self.assertEqual(tail([5.0, 1.0, 3.0]), (50.0, 3.0))
        self.assertEqual(tail([]), (50.0, 0.0))

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2.0)
        self.assertEqual(median([4, 1, 2, 3]), 2.5)


class SelfTime(unittest.TestCase):
    def test_span_minus_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 60),
                 span(4, 2, 15, 20)]
        st = self_times(spans)
        self.assertEqual(st, {1: 70, 2: 15, 3: 10, 4: 5})

    def test_overlapping_children_count_once_and_are_clipped(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50),
                 span(4, 1, 90, 120)]
        self.assertEqual(self_times(spans)[1], 100 - 40 - 10)

    def test_union_length(self):
        self.assertEqual(union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(union_length([]), 0)

    def test_engine_intervals_hang_under_the_innermost_span(self):
        spans = [span(1, 0, 0, 100, "bench"), span(2, 1, 10, 50, "sources")]
        jobs = attach(spans, [{"start_us": 20, "end_us": 30, "job": 7},
                              {"start_us": 60, "end_us": 70, "job": 8}],
                      "spark", "job", 10)
        self.assertEqual([j["parent"] for j in jobs], [2, 1])
        totals = layer_totals(spans + jobs)
        self.assertEqual(totals["sources"], (30, 1))
        self.assertEqual(totals["bench"], (50, 1))
        self.assertEqual(totals["spark"], (20, 2))


if __name__ == "__main__":
    unittest.main()

"""Tests for the benchmark's statistics: python3 -m unittest discover perfbench"""
import math
import unittest

import stats


def span(i, parent, start, end, name="x", op=0):
    return {"id": i, "parent": parent, "op": op, "name": name, "start": start, "end": end}


class TailPercentile(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        for n in range(11, 500):
            p = stats.tail_percentile(n)
            rank = math.ceil(p * n / 100.0)
            self.assertGreaterEqual(n - rank, stats.TAIL_SAMPLES, n)
            # and it is the highest such whole percentile
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100.0), stats.TAIL_SAMPLES, n)

    def test_known_sizes(self):
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(36), 72)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(3))

    def test_summary_falls_back_to_the_median(self):
        s = stats.latency_summary([1.0, 2.0, 3.0])
        self.assertEqual((s["tail_pct"], s["tail"]), (50, 2.0))

    def test_summary_on_forty_samples(self):
        s = stats.latency_summary([float(i) for i in range(1, 41)])
        self.assertEqual((s["p50"], s["tail_pct"], s["tail"], s["beyond_tail"]), (20.0, 75, 30.0, 10))

    def test_failed_ops_miss_every_limit(self):
        s = stats.latency_summary([1.0] * 20, failed=11)
        self.assertEqual(s["n"], 31)
        self.assertEqual(s["p50"], 1.0)
        self.assertEqual(s["tail"], math.inf)


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, -1, 0, 100), span(2, 1, 10, 40), span(3, 2, 20, 30)]
        self.assertEqual(stats.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        # a walk with three parallel folds: 0-50, 10-60 and 70-80
        spans = [span(1, -1, 0, 100), span(2, 1, 0, 50), span(3, 1, 10, 60), span(4, 1, 70, 80)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 60 - 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, -1, 10, 20), span(2, 1, 5, 15)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_parents_resolve_to_the_innermost_container(self):
        spans = [span(1, -1, 0, 100, "op"), span(2, 1, 10, 90, "index.walk"),
                 span(3, -1, 20, 50, "index.fold.a"), span(4, -1, 25, 60, "index.fold.b"),
                 span(5, -1, 30, 40, "exec.job"), span(6, -1, 95, 99, "exec.job"),
                 span(7, -1, 2, 3, "exec.job", op=1)]
        stats.resolve_parents(spans)
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents, {1: -1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 1, 7: -1})

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_layers(self):
        self.assertEqual(stats.layer_of("op"), "driver")
        self.assertEqual(stats.layer_of("index.fold.orders_bloom"), "index")
        self.assertEqual(stats.layer_of("plans.analysis"), "plans")


if __name__ == "__main__":
    unittest.main()

"""Self-tests of the benchmark's pure reductions.

    python3 -m unittest discover -s perfbench/tests -p 'test_*.py'
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 1.0), 100)
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_beyond_counts_samples_after_the_percentile(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertEqual(stats.beyond(21, 0.5), 10)

    def test_tail_quantile_keeps_ten_samples_beyond(self):
        self.assertEqual(stats.tail_quantile(100), 0.9)
        self.assertEqual(stats.tail_quantile(1000), 0.9)
        for n in range(11, 300):
            q = stats.tail_quantile(n)
            self.assertLessEqual(q, 0.9)
            self.assertGreaterEqual(stats.beyond(n, q), 10, n)
            # and it is the highest such percentile on the n-sample grid
            if q < 0.9:
                self.assertLess(stats.beyond(n, q + 1.0 / n), 10, n)

    def test_tail_quantile_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail_quantile(10))
        self.assertIsNone(stats.tail_quantile(3))


def span(i, parent, start, end, **counts):
    return {"id": i, "parent": parent, "name": f"s{i}", "start": start, "end": end,
            "counts": counts}


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 10.0, 25.0)]), {0: 15.0})

    def test_disjoint_children_are_subtracted(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 50, 60)]
        self.assertEqual(stats.self_times(spans), {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_count_once(self):
        # two parallel stages under one job
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80)]
        self.assertEqual(stats.self_times(spans)[0], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, -20, 10), span(2, 0, 90, 130)]
        self.assertEqual(stats.self_times(spans)[0], 80)

    def test_only_direct_children_count(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 1, 0, 40)]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 10, 2: 40})


class LayerSumTest(unittest.TestCase):
    def test_sums_add_and_peaks_take_the_maximum(self):
        recs = [{"exec.task_ms": 400.0, "cache.peak_bytes": 10.0, "wall_ms": 100.0},
                {"exec.task_ms": 400.0, "cache.peak_bytes": 30.0, "wall_ms": 100.0}]
        tot = stats.sum_layers(recs, cores=4)
        self.assertEqual(tot["exec.task_ms"], 800.0)
        self.assertEqual(tot["cache.peak_bytes"], 30.0)
        self.assertEqual(tot["exec.busy_frac"], 1.0)
        self.assertNotIn("wall_ms", tot)

    def test_exec_layers_merge_query_build_and_action(self):
        spans = [span(0, -1, 0, 10, **{"jvm.gc_ms": 2.0}),
                 span(1, 0, 0, 4, **{"exec.jobs": 1.0}),
                 span(2, 0, 4, 10, **{"exec.jobs": 2.0})]
        execs = [{"traced": True, "span": 0, "build_ms": 4.0, "action_ms": 6.0},
                 {"traced": False, "span": -1, "build_ms": 1.0, "action_ms": 1.0}]
        [(e, c)] = stats.exec_layers(execs, spans)
        self.assertEqual(c, {"jvm.gc_ms": 2.0, "exec.jobs": 3.0, "build.ms": 4.0, "wall_ms": 10.0})


if __name__ == "__main__":
    unittest.main()

"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics as M


class TailPercentile(unittest.TestCase):
    def test_ten_samples_must_lie_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, beyond = M.tail_percentile(xs, 75)
        self.assertEqual((value, beyond), (30, 10))
        with self.assertRaises(ValueError):
            M.tail_percentile(xs, 80)  # rank 32 leaves only 8 beyond

    def test_order_does_not_matter(self):
        self.assertEqual(M.tail_percentile([5, 1, 4, 2, 3] * 5, 50), (3, 12))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [("pipelines.link", -1, 0, 100),
                 ("io.commit", 0, 10, 40),
                 ("io.commit", 0, 30, 60),   # overlaps its sibling
                 ("plans.plan", 1, 15, 20)]  # grandchild: not the root's business
        self.assertEqual(M.self_times(spans), [50, 25, 30, 5])

    def test_nest_picks_innermost_container(self):
        spans = [("exec.run", -1, 0, 100), ("io.commit", 0, 10, 50)]
        tree = M.nest(spans, [("plans.plan", 12, 20), ("plans.plan", 60, 70),
                              ("plans.plan", 200, 210)])
        self.assertEqual([p for _, p, _, _ in tree], [-1, 0, 1, 0, -1])
        self.assertEqual(M.self_times(tree), [50, 32, 8, 10, 10])


class SlotUtil(unittest.TestCase):
    def test_share_of_busy_slots(self):
        self.assertAlmostEqual(M.slot_util(task_time=6.0, wall=3.0, cores=4), 0.5)
        self.assertEqual(M.slot_util(1.0, 0.0, 4), 0.0)


class IdleTime(unittest.TestCase):
    def test_union_of_overlapping_tasks(self):
        tasks = [(10, 30), (20, 40), (50, 60), (55, 58)]
        self.assertEqual(M.union_length(tasks), 40)
        self.assertEqual(M.idle_time(0, 100, tasks), 60)

    def test_tasks_clipped_to_the_operation(self):
        self.assertEqual(M.idle_time(20, 50, [(0, 30), (45, 90)]), 15)
        self.assertEqual(M.idle_time(0, 10, []), 10)


class BatchGrowth(unittest.TestCase):
    def test_last_quarter_over_first_quarter(self):
        self.assertAlmostEqual(M.batch_growth([1, 1, 2, 2, 3, 3, 4, 4]), 4.0)
        self.assertAlmostEqual(M.batch_growth([2.0] * 9), 1.0)

    def test_short_runs_compare_single_units(self):
        self.assertAlmostEqual(M.batch_growth([2.0, 5.0, 3.0]), 1.5)


class Spread(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        # statistics.quantiles (exclusive method): 2.75, 5.5, 8.25
        self.assertAlmostEqual(M.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)


if __name__ == "__main__":
    unittest.main()

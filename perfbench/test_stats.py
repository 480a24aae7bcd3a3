"""Tests of the benchmark's own math. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""

import unittest

import stats


class TailTest(unittest.TestCase):
    def test_picks_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(1000), 99.0)   # 10 beyond p99
        self.assertEqual(stats.tail_percentile(999), 95.0)    # p99 leaves only 9
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(52), 80.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 70.0)     # p75 leaves only 9
        self.assertEqual(stats.tail_percentile(20), 50.0)     # p55 leaves only 9
        self.assertEqual(stats.tail_percentile(10), 50.0)     # too few: the median

    def test_value_and_count_beyond(self):
        values = list(range(1, 101))
        p, v, n = stats.tail(values)
        self.assertEqual((p, v, n), (90.0, 90, 10))

    def test_reference_count_fixes_the_percentile(self):
        # 100 samples would allow p90, but the guaranteed 50 choose p80
        p, _, n = stats.tail(list(range(100)), n_ref=50)
        self.assertEqual(p, 80.0)
        self.assertEqual(n, 20)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3], 50), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 75), 3)
        self.assertEqual(stats.percentile([7], 99), 7)


class SelfTimeTest(unittest.TestCase):
    def test_subtracts_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (50, 80)]), 60)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_children_clipped_to_parent(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 15), (18, 30)]), 3)

    def test_no_children(self):
        self.assertEqual(stats.self_time((3, 9), []), 6)


class VerdictTest(unittest.TestCase):
    parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]

    def test_improved_needs_pairs_and_gap(self):
        change = [x - 10 for x in self.parent]
        self.assertEqual(stats.pairs_won(self.parent, change, "lower"), 1.0)
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "improved")

    def test_small_gain_is_within_bound(self):
        change = [x - 1 for x in self.parent]
        # wins every pair but the gain is inside the parent's own spread
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "within bound")

    def test_worse_beyond_bound(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "worse")
        self.assertEqual(stats.verdict(self.parent, change, "higher", 0.1), "improved")

    def test_worse_within_bound(self):
        change = [x * 1.05 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, change, "lower", 0.1), "within bound")

    def test_noisy_parent_is_unresolved(self):
        noisy = [50, 150, 80, 120, 60, 140, 100, 90, 110, 70]
        change = [x * 1.3 for x in noisy]
        self.assertEqual(stats.verdict(noisy, change, "lower", 0.1), "unresolved")
        # unless every change run beats every parent run
        self.assertEqual(stats.verdict(noisy, [10] * 10, "lower", 0.1), "improved")

    def test_ties_count_for_neither(self):
        self.assertEqual(stats.pairs_won([1, 2, 3, 4], [1, 1, 3, 5], "lower"), 0.25)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)

    def test_quiet_sweeps(self):
        sweeps = [{"sweep": i, "steal_pct": p} for i, p in enumerate([0.5, 9.0, 0.1, 3.0, 1.9])]
        kept = [s["sweep"] for s in stats.quiet_sweeps(sweeps, 2.0, 3)]
        self.assertEqual(kept, [0, 2, 4])
        # too few undisturbed sweeps: the least disturbed ones make up the count
        kept = [s["sweep"] for s in stats.quiet_sweeps(sweeps, 2.0, 4)]
        self.assertEqual(sorted(kept), [0, 2, 3, 4])


if __name__ == "__main__":
    unittest.main()

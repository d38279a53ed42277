"""Unit tests of tools/ab_pairs.py's pure helpers; they run no perfbench.

    python3 -m unittest tools/test_ab_pairs.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ab_pairs import quartiles, seeds, within_bound  # noqa: E402


class Seeds(unittest.TestCase):
    def test_range(self):
        self.assertEqual(seeds("301-304"), [301, 302, 303, 304])

    def test_list_and_ranges(self):
        self.assertEqual(seeds("301,305-306,309"), [301, 305, 306, 309])

    def test_single(self):
        self.assertEqual(seeds("7"), [7])


class Quartiles(unittest.TestCase):
    def test_one_value(self):
        self.assertEqual(quartiles([3.0]), (3.0, 3.0, 3.0))

    def test_median_between_quartiles(self):
        q1, med, q3 = quartiles([5, 1, 4, 2, 3])
        self.assertEqual(med, 3)
        self.assertLess(q1, med)
        self.assertLess(med, q3)


class WithinBound(unittest.TestCase):
    narrow = [100, 101, 99, 100, 102, 98]

    def test_equal_runs_are_within(self):
        self.assertEqual(within_bound(self.narrow, self.narrow, "lower", 0.25), "yes")

    def test_worse_by_less_than_bound_is_within(self):
        change = [v * 1.2 for v in self.narrow]
        self.assertEqual(within_bound(self.narrow, change, "lower", 0.25), "yes")

    def test_worse_by_more_than_bound_lower_better(self):
        change = [v * 1.3 for v in self.narrow]
        self.assertEqual(within_bound(self.narrow, change, "lower", 0.25), "no")

    def test_worse_by_more_than_bound_higher_better(self):
        change = [v * 0.7 for v in self.narrow]
        self.assertEqual(within_bound(self.narrow, change, "higher", 0.25), "no")

    def test_better_by_far_is_within(self):
        change = [v * 0.5 for v in self.narrow]
        self.assertEqual(within_bound(self.narrow, change, "lower", 0.25), "yes")

    def test_wide_parent_spread_overlapping_is_unresolved(self):
        wide = [60, 80, 100, 120, 140, 100]
        self.assertEqual(within_bound(wide, [95, 105, 100, 130], "lower", 0.1), "unresolved")

    def test_wide_parent_spread_dominated_is_within(self):
        wide = [60, 80, 100, 120, 140, 100]
        self.assertEqual(within_bound(wide, [50, 55, 58], "lower", 0.1), "yes")

    def test_worse_beyond_bound_wins_over_unresolved(self):
        wide = [60, 80, 100, 120, 140, 100]
        self.assertEqual(within_bound(wide, [150, 160, 170], "lower", 0.25), "no")


if __name__ == "__main__":
    unittest.main()

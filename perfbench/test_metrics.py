"""Tests of the benchmark's metric arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(metrics.tail(range(10)))
        self.assertEqual(metrics.tail(range(11)), (0, 100.0 / 11, 11))

    def test_leaves_exactly_ten_samples_above(self):
        xs = list(range(100, 0, -1))  # order of arrival must not matter
        value, pct, n = metrics.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_ties_still_count_as_samples(self):
        value, pct, n = metrics.tail([1.0] * 30 + [5.0] * 5)
        self.assertEqual((value, n), (1.0, 35))
        self.assertAlmostEqual(pct, 100.0 * 25 / 35)


class DriverGapTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(metrics.driver_gap(0, 10, [(1, 4), (2, 5), (7, 8)]), 5)

    def test_jobs_outside_the_op_are_clipped(self):
        self.assertEqual(metrics.driver_gap(5, 10, [(0, 6), (9, 20)]), 3)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(metrics.driver_gap(2, 3.5, []), 1.5)

    def test_nested_and_touching_jobs(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children_union(self):
        spans = {
            "run": (None, 0, 100),
            "op": ("run", 10, 60),
            "build": ("op", 10, 20),
            "action": ("op", 20, 55),
            "job1": ("action", 22, 40),
            "job2": ("action", 30, 50),
        }
        st = metrics.self_times(spans)
        self.assertEqual(st["run"], 50)
        self.assertEqual(st["op"], 5)
        self.assertEqual(st["build"], 10)
        self.assertEqual(st["action"], 7)
        self.assertEqual(st["job1"], 18)

    def test_child_overrunning_parent_is_clipped(self):
        st = metrics.self_times({"a": (None, 0, 10), "b": ("a", 8, 15)})
        self.assertEqual(st["a"], 8)


class PermutationTest(unittest.TestCase):
    ops = ["q%02d" % i for i in range(1, 21)]

    def test_same_seed_same_order(self):
        self.assertEqual(metrics.permuted(self.ops, 7), metrics.permuted(self.ops, 7))

    def test_other_seed_other_order(self):
        self.assertNotEqual(metrics.permuted(self.ops, 7), metrics.permuted(self.ops, 8))

    def test_is_a_permutation(self):
        self.assertEqual(sorted(metrics.permuted(self.ops, 3)), self.ops)
        self.assertEqual(self.ops[0], "q01")  # input left untouched


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import gen
import stats


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 90)  # 91..100 are the ten beyond it
        self.assertEqual(pct, 90.0)
        self.assertEqual(n, 100)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_smallest_sample_with_a_tail(self):
        value, pct, n = stats.tail(list(range(11)))
        self.assertEqual((value, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_too_few_samples_fall_back_to_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))


class SelfTimeTest(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (2, 6), (5, 7)]), 4)

    def test_children_clipped_to_parent(self):
        self.assertEqual(stats.self_time((2, 8), [(0, 3), (7, 12)]), 4)

    def test_no_children(self):
        self.assertEqual(stats.self_time((2.5, 4.0), []), 1.5)

    def test_child_outside_parent(self):
        self.assertEqual(stats.self_time((0, 1), [(2, 3)]), 1)


class SlotBusyTest(unittest.TestCase):
    def test_all_slots_busy(self):
        self.assertEqual(stats.slot_busy(40.0, 4, 10.0), 1.0)

    def test_one_of_four_slots(self):
        self.assertEqual(stats.slot_busy(7.0, 4, 7.0), 0.25)

    def test_empty_window(self):
        self.assertEqual(stats.slot_busy(1.0, 4, 0.0), 0.0)


class ErrorRateTest(unittest.TestCase):
    def ex(self, query, error=None, mismatch=False):
        return {"query": query, "error": error, "digest_mismatch": mismatch}

    def test_denominator_is_every_execution(self):
        execs = [self.ex("a"), self.ex("a"), self.ex("b"), self.ex("b", error="boom")]
        self.assertEqual(stats.error_rate(execs, {}), (1, 4, 0.25))

    def test_wrong_query_fails_all_its_executions(self):
        execs = [self.ex("a"), self.ex("a"), self.ex("b"), self.ex("b")]
        self.assertEqual(stats.error_rate(execs, {"a": "2 rows vs oracle 3"}), (2, 4, 0.5))

    def test_digest_mismatch_counts(self):
        execs = [self.ex("a"), self.ex("a", mismatch=True), self.ex("a")]
        self.assertEqual(stats.error_rate(execs, {})[:2], (1, 3))

    def test_nothing_attempted_is_all_failure(self):
        self.assertEqual(stats.error_rate([], {}), (0, 0, 1.0))


class QuartilesTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5]), (1.5, 3, 4.5))

    def test_single_value(self):
        self.assertEqual(stats.quartiles([7.0]), (7.0, 7.0, 7.0))


class GenerateTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            _, a = gen.generate(7, os.path.join(d, "a"))
            manifest, b = gen.generate(7, os.path.join(d, "b"))
            _, c = gen.generate(8, os.path.join(d, "c"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(manifest["lineitem"]["rows"], gen.N_LINE)


if __name__ == "__main__":
    unittest.main()

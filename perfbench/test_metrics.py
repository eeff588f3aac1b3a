"""Tests of the benchmark's own arithmetic: python3 -m unittest perfbench/test_metrics.py"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        values = list(range(1, 101))
        value, pct = metrics.tail(values)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_percentile_rises_with_sample_count(self):
        value, pct = metrics.tail(list(range(1000)))
        self.assertEqual(pct, 99.0)
        self.assertEqual(sum(1 for v in range(1000) if v > value), 10)
        _, pct = metrics.tail(list(range(12)))
        self.assertAlmostEqual(pct, 100 * 2 / 12)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12])[0], 2)

    def test_too_few_samples_is_refused(self):
        with self.assertRaises(ValueError):
            metrics.tail(list(range(10)))


class SliceCompletionTest(unittest.TestCase):
    # Slice 0: order A (3 details) on time; order B's 2 details arrive in
    # slice 0 but its header only in slice 1. Slice 1: order C (1 detail).
    # Slice 2: order D (4 details). The backlog produced 100 wide rows.
    ORDERS = [(0, 0, 3), (0, 1, 2), (1, 1, 1), (2, 2, 4)]

    def test_need_counts_late_header_in_its_own_slice(self):
        self.assertEqual(metrics.need_rows(100, self.ORDERS, 3), [103, 106, 110])

    def test_completion_waits_for_the_header(self):
        need = metrics.need_rows(100, self.ORDERS, 3)
        # agg triggers: catch-up, then one that saw slice 0 and the early
        # details of B (105 rows, B incomplete), then B + C, then D
        ledger = [(1000, 100), (2000, 105), (3000, 106), (4000, 110)]
        self.assertEqual(metrics.completion_times(ledger, need), [2000, 3000, 4000])

    def test_one_trigger_can_complete_several_slices(self):
        need = metrics.need_rows(100, self.ORDERS, 3)
        self.assertEqual(metrics.completion_times([(5000, 110)], need), [5000] * 3)
        self.assertEqual(metrics.commit_events([(5000, 110)], need), 1)
        ledger = [(1000, 100), (2000, 105), (3000, 106), (4000, 110)]
        self.assertEqual(metrics.commit_events(ledger, need), 3)

    def test_latency_from_due_time_and_unfinished_units(self):
        need = metrics.need_rows(100, self.ORDERS, 3)
        ledger = [(1500, 103), (2600, 106)]
        lat, unfinished = metrics.latencies(ledger, need, [1000, 2000, 3000])
        self.assertEqual(lat, [500, 600])
        self.assertEqual(unfinished, 1)


class RecallTest(unittest.TestCase):
    def test_hand_built_case(self):
        exact = {1: [10, 11, 12, 13, 14], 2: [20, 21, 22, 23, 24]}
        answers = {1: [10, 11, 12, 13, 99],   # 4 of 5
                   2: [24, 23, 22, 21, 20]}   # all 5, another order
        self.assertAlmostEqual(metrics.recall_at_k(answers, exact, 5), 0.9)

    def test_missing_query_scores_zero_and_extra_answers_are_cut(self):
        exact = {1: [1, 2, 3, 4, 5], 2: [6, 7, 8, 9, 10]}
        answers = {1: [9, 9, 9, 9, 9, 1, 2, 3]}
        self.assertEqual(metrics.recall_at_k(answers, exact, 5), 0.0)


class ErrorRateTest(unittest.TestCase):
    def test_counts(self):
        self.assertEqual(metrics.error_rate(121, 0), 0.0)
        self.assertAlmostEqual(metrics.error_rate(8, 2), 0.25)
        self.assertEqual(metrics.error_rate(5, 5), 1.0)

    def test_invalid_counts_are_refused(self):
        for attempted, failed in [(0, 0), (3, 4), (3, -1)]:
            with self.assertRaises(ValueError):
                metrics.error_rate(attempted, failed)


if __name__ == "__main__":
    unittest.main()

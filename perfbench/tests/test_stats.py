"""Unit tests of the benchmark's statistics and failure accounting.

    python3 -m unittest discover -s perfbench/tests -p 'test_stats.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


def attempt(op, kind="timed", p=1, error=None, wrong=False):
    return {"op": op, "kind": kind, "pass": p, "error": error, "wrong": wrong, "got": [1]}


class Median(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class Tail(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        # 11 samples: rank 1 has 10 above it -> p9
        self.assertEqual(stats.tail(list(range(11))), (9, 0, 11))

    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(list(reversed(xs))), (90, 90, 100))

    def test_timing_reports_n(self):
        t = stats.timing([1.0] * 20 + [5.0] * 5)
        self.assertEqual((t["median"], t["n"], t["tail_pct"], t["tail"]), (1.0, 25, 60, 1.0))
        self.assertIsNone(stats.timing([2.0, 4.0])["tail"])


class Geomean(unittest.TestCase):
    def test_value(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])


class Failures(unittest.TestCase):
    def test_planted_throw_and_wrong_result_count(self):
        attempts = []
        for p, kind in enumerate(["cold", "warmup", "timed"]):
            attempts += [attempt("right", kind, p),
                         attempt("throws", kind, p, error="java.lang.IllegalStateException: planted"),
                         attempt("wrong", kind, p, wrong=True)]
        attempted, failed, why = stats.failures(attempts)
        self.assertEqual((attempted, failed), (9, 6))
        self.assertEqual(sorted(why), ["throws", "wrong"])
        self.assertEqual(len(why["throws"]), 3)

    def test_oracle_mismatch_fails_only_the_check_attempt(self):
        attempts = [attempt("q", "cold", 0), attempt("q", "timed", 1)]
        attempts[0]["checked"] = True
        attempted, failed, why = stats.failures(attempts, mismatched=["q"])
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn("oracle", why["q"][0])


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's statistics and digest.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import random
import unittest

import pandas as pd

import stats


class TailTest(unittest.TestCase):
    def beyond(self, n, p):
        """Samples of 0..n-1 strictly above the p-th percentile."""
        v = stats.percentile(list(range(n)), p)
        return sum(1 for x in range(n) if x > v)

    def test_highest_percentile_with_ten_beyond(self):
        for n in range(1, 400):
            p, v = stats.tail(list(range(n)))
            self.assertEqual(v, stats.percentile(list(range(n)), p))
            if p > 50:
                self.assertGreaterEqual(self.beyond(n, p), 10, n)
            if p < 99 and n >= 20:
                self.assertLess(self.beyond(n, p + 1), 10, n)

    def test_known_points(self):
        self.assertEqual(stats.tail(list(range(100)))[0], 90)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99)
        self.assertEqual(stats.tail(list(range(12)))[0], 50)

    def test_order_does_not_matter(self):
        xs = [random.Random(1).random() for _ in range(57)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs, reverse=True)))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


class DigestTest(unittest.TestCase):
    frame = pd.DataFrame({"id": [1, 2, 3, 4], "x": [0.1, 0.25, -3.0, 7.5],
                          "s": ["a", "b", "c", "d"], "v": [[1.0, 2.0], [3.0], [], [0.5]]})

    def test_row_and_column_order_do_not_matter(self):
        shuffled = self.frame.sample(frac=1.0, random_state=7)[["v", "s", "x", "id"]]
        self.assertEqual(stats.digest(self.frame), stats.digest(shuffled))

    def test_values_names_and_types_matter(self):
        base = stats.digest(self.frame)
        changed = self.frame.copy()
        changed.loc[2, "x"] = -3.0000000001
        self.assertNotEqual(base, stats.digest(changed))
        self.assertNotEqual(base, stats.digest(self.frame.rename(columns={"x": "y"})))
        self.assertNotEqual(base, stats.digest(self.frame.astype({"id": "int32"})))

    def test_duplicate_rows_count(self):
        doubled = pd.concat([self.frame, self.frame.iloc[[0]]])
        self.assertNotEqual(stats.digest(self.frame), stats.digest(doubled))


class SpanTest(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_children(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 10},
                 {"id": 2, "parent": 1, "start": 1, "end": 4},
                 {"id": 3, "parent": 1, "start": 3, "end": 6},
                 {"id": 4, "parent": 2, "start": 1, "end": 2}]
        self.assertEqual(stats.self_times(spans), {1: 5, 2: 2, 3: 3, 4: 1})


if __name__ == "__main__":
    unittest.main()

"""Generator determinism and the tail-percentile rule.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def _hash(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.GENERATORS[workload](seed, d)
            return gen.input_hash(d)

    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertEqual(self._hash(w, 11), self._hash(w, 11))

    def test_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertNotEqual(self._hash(w, 11), self._hash(w, 12))


class TailTest(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        # 19 samples: the median has only 9 beyond it
        self.assertIsNone(run.tail(list(range(19))))

    def test_median_at_twenty(self):
        self.assertEqual(run.tail(list(range(1, 21))), (50.0, 10, 20))

    def test_highest_supported_percentile(self):
        # 100 samples: p90 has 10 beyond it, p95 only 5
        self.assertEqual(run.tail(list(range(1, 101))), (90.0, 90, 100))
        # 1000 samples: p99 has 10 beyond it
        self.assertEqual(run.tail(list(range(1, 1001))), (99.0, 990, 1000))


if __name__ == "__main__":
    unittest.main()

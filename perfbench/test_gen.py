"""Self-tests of the dataset generator: python3 perfbench/test_gen.py"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


class GenTest(unittest.TestCase):
    DAYS, ROWS = 2, 50

    def test_same_seed_same_rows(self):
        a = gen.row_hashes(7, self.DAYS, self.ROWS)
        b = gen.row_hashes(7, self.DAYS, self.ROWS)
        self.assertEqual(len(a), self.DAYS * 24 * self.ROWS)
        self.assertEqual(a, b)

    def test_other_seed_other_rows(self):
        a = gen.row_hashes(7, self.DAYS, self.ROWS)
        b = gen.row_hashes(8, self.DAYS, self.ROWS)
        self.assertEqual(len(a), len(b))
        self.assertFalse(set(a) & set(b))

    def test_layout_and_churn(self):
        with tempfile.TemporaryDirectory() as d:
            files = gen.generate(3, d, days=self.DAYS, rows_per_hour=self.ROWS)
            self.assertEqual(len(files), self.DAYS * 24)
            self.assertTrue(files[0].endswith(
                os.path.join("c0", "20240102", "logs", "00", "tbl_0000.parquet")))
            t0 = pq.read_table(files[0])
            t1 = pq.read_table(files[24])
            self.assertEqual(t0.num_rows, self.ROWS)
            ts = t0.column("ts").to_pylist()
            self.assertEqual(ts, sorted(ts))
            self.assertTrue(all(gen.START_MS * 10**6 <= x <
                                (gen.START_MS + gen.HOUR_MS) * 10**6 for x in ts))
            # host and pod names churn daily: day 0 and day 1 share none
            for c in ("host", "pod"):
                self.assertFalse(set(t0.column(c).to_pylist()) &
                                 set(t1.column(c).to_pylist()))
            with open(os.path.join(d, "pods.txt")) as f:
                days = [line.split() for line in f.read().splitlines()]
            self.assertEqual(len(days), self.DAYS)
            self.assertTrue(set(t1.column("pod").to_pylist()) <= set(days[1]))


if __name__ == "__main__":
    unittest.main()

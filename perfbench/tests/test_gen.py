"""Tests of the seeded input generator: python3 -m unittest discover perfbench/tests"""
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


class GenTest(unittest.TestCase):
    def test_same_seed_same_digest(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 7, 0.001, 5000, 100)
            b = gen.generate(os.path.join(d, "b"), 7, 0.001, 5000, 100)
            c = gen.generate(os.path.join(d, "c"), 8, 0.001, 5000, 100)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_digest_matches_written_content(self):
        with tempfile.TemporaryDirectory() as d:
            want = gen.generate(d, 3, 0.001, 2000, 50)
            named = {f[:-len(".parquet")]: pq.read_table(os.path.join(d, f))
                     for f in os.listdir(d)}
        self.assertEqual(gen.digest(named), want)

    def test_texts_reference_real_columns_with_variety(self):
        texts = gen.query_texts(1, 400)
        self.assertEqual(len(set(texts)), 400)
        known = {c for cols in gen._COLS.values() for c in cols}
        for t in texts:
            self.assertTrue(any(c in t for c in known), t)
        share = lambda s: sum(s in t for t in texts) / len(texts)  # noqa: E731
        for clause in (" JOIN ", " WHERE ", " GROUP BY ", " LIMIT "):
            self.assertGreater(share(clause), 0.1, clause)
        trino = share("FETCH FIRST") + share("TABLESAMPLE") + share('"')
        self.assertGreater(trino, 0.03)

    def test_log_frequencies_skewed_and_mixed(self):
        log = gen.query_log(5, 20000, 200)
        counts = np.bincount(log["query"].combine_chunks().indices.to_numpy(), minlength=200)
        top = np.sort(counts)[::-1]
        self.assertGreater(top[0], 20 * max(1, top[100]))
        exec_ms = log["execution_time_ms"].to_numpy()
        interactive = (exec_ms < 10000).mean()
        self.assertTrue(0.5 < interactive < 0.9, interactive)


if __name__ == "__main__":
    unittest.main()

#!/usr/bin/env python3
"""Tests for preverify.py's dump-vs-dump mode (run: python3 this_file)."""
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from preverify import compare_dumps, main_against  # noqa: E402


def dump(root, name, df):
    os.makedirs(os.path.join(root, name))
    df.to_parquet(os.path.join(root, name, "part-0.parquet"))


class CompareDumpsTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        os.makedirs(self.a)
        os.makedirs(self.b)

    def tearDown(self):
        self.tmp.cleanup()

    def test_identical_up_to_row_and_column_order(self):
        dump(self.a, "q1", pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}))
        dump(self.b, "q1", pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]}))
        self.assertEqual(compare_dumps(self.a, self.b), [])
        self.assertEqual(main_against(self.b, self.a), 0)

    def test_lists_every_differing_query(self):
        same = pd.DataFrame({"k": [1, 2]})
        dump(self.a, "q_same", same)
        dump(self.b, "q_same", same)
        # one ulp apart: a hash compare must see it
        dump(self.a, "q_val", pd.DataFrame({"v": [0.1 + 0.2]}))
        dump(self.b, "q_val", pd.DataFrame({"v": [0.3]}))
        dump(self.a, "q_rows", pd.DataFrame({"k": [1, 2]}))
        dump(self.b, "q_rows", pd.DataFrame({"k": [1]}))
        dump(self.a, "q_cols", pd.DataFrame({"k": [1]}))
        dump(self.b, "q_cols", pd.DataFrame({"j": [1]}))
        dump(self.a, "q_only_a", same)
        diffs = dict(compare_dumps(self.a, self.b))
        self.assertEqual(sorted(diffs),
                         ["q_cols", "q_only_a", "q_rows", "q_val"])
        self.assertIn("['v']", diffs["q_val"])
        self.assertIn("rows 2 vs 1", diffs["q_rows"])
        self.assertIn("missing in", diffs["q_only_a"])
        self.assertEqual(main_against(self.b, self.a), 1)

    def test_honours_the_query_filter(self):
        dump(self.a, "q1", pd.DataFrame({"k": [1]}))
        dump(self.b, "q1", pd.DataFrame({"k": [2]}))
        os.environ["SPARK_GRAFT_ONLY"] = "q2"
        try:
            self.assertEqual(compare_dumps(self.a, self.b), [])
        finally:
            del os.environ["SPARK_GRAFT_ONLY"]


if __name__ == "__main__":
    unittest.main()

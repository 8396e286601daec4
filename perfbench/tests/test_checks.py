"""Tests that the output checks catch wrong results. Run from the
repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402


class Compare(unittest.TestCase):
    want = pd.DataFrame({"k": [2, 1], "x": [0.1 + 0.2, 5.0]})

    def test_row_order_and_last_ulp_differences_pass(self):
        got = pd.DataFrame({"k": [1, 2], "x": [5.0, 0.3]})
        self.assertIsNone(checks.compare(got, self.want))

    def test_value_beyond_tolerance_fails(self):
        got = pd.DataFrame({"k": [1, 2], "x": [5.0 * (1 + 1e-7), 0.3]})
        self.assertIn("value of x", checks.compare(got, self.want))

    def test_missing_row_and_wrong_kind_fail(self):
        self.assertIn("rows", checks.compare(self.want.head(1), self.want))
        got = self.want.assign(k=self.want["k"].astype(float))
        self.assertIn("type of k", checks.compare(got, self.want))


class RetailOracle(unittest.TestCase):
    def test_expected_summary_excludes_dirty_rows_and_keeps_unsold_seeds(self):
        with tempfile.TemporaryDirectory() as d:
            info = gen.retail(d, 7, 2_000, 50)
            self.assertGreater(info["dirty_rows"], 0)
            con = duckdb.connect()
            summary, table = checks.etl_expected(con, d)
            truth = pd.read_parquet(f"{d}/truth.parquet")
            ok = truth[truth["valid"]]
            self.assertTrue((ok["quantity"] > 0).all())
            self.assertAlmostEqual(summary["total_quantity"].sum(),
                                   ok["quantity"].sum())
            seed = pd.read_csv(f"{d}/sales_summary_seed.del", header=None)
            unsold = set(seed[0]) - set(summary["product_id"])
            self.assertTrue(unsold)
            self.assertEqual(len(table), len(summary) + len(unsold))
            # a summary that kept one dirty row is caught
            wrong = summary.copy()
            wrong.loc[0, "total_quantity"] -= 1.0
            self.assertIsNotNone(checks.compare(wrong, summary))

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.retail(a, 3, 500, 20)
            gen.retail(b, 3, 500, 20)
            for f in ("in_store_sales.csv", "online_sales.del",
                      "sales_summary_seed.del"):
                with open(f"{a}/{f}") as x, open(f"{b}/{f}") as y:
                    self.assertEqual(x.read(), y.read())


if __name__ == "__main__":
    unittest.main()

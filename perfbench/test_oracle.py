"""Tests of the benchmark's oracle compare and table generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import duckdb

import gen_tables
import oracle


class CompareTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.ref = "SELECT * FROM (VALUES (1, 'a', 2.5), (2, 'b', 3.25)) t(k, s, v) ORDER BY k"

    def test_equal_results_pass(self):
        self.assertEqual(oracle.compare_sql(self.con, self.ref, self.ref), [])

    def test_one_changed_value_fails(self):
        mine = "SELECT * FROM (VALUES (1, 'a', 2.5), (2, 'b', 3.2500001)) t(k, s, v) ORDER BY k"
        problems = oracle.compare_sql(self.con, mine, self.ref)
        self.assertTrue(any("rows differ" in p for p in problems), problems)

    def test_row_order_and_count_matter(self):
        swapped = self.ref.replace("ORDER BY k", "ORDER BY k DESC")
        self.assertTrue(oracle.compare_sql(self.con, swapped, self.ref))
        self.assertTrue(oracle.compare_sql(self.con, self.ref + " LIMIT 1", self.ref))

    def test_types_are_strict(self):
        wide = "SELECT CAST(k AS HUGEINT) AS k, s, v FROM (" + self.ref + ")"
        self.assertTrue(any("type" in p for p in oracle.compare_sql(self.con, self.ref, wide)))
        narrow = "SELECT CAST(k AS INTEGER) AS k, s, v FROM (" + self.ref + ")"
        self.assertEqual(oracle.compare_sql(self.con, narrow, self.ref), [])

    def test_parquet_result_with_one_changed_value_fails(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "q")
            os.makedirs(out)
            bad = self.ref.replace("'b'", "'c'")
            self.con.execute(f"COPY ({bad}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
            self.assertTrue(oracle.compare(self.con, out, self.ref))
            self.assertEqual(oracle.compare(self.con, os.path.join(d, "missing"), self.ref),
                             ["no Spark result"])


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b, c = (gen_tables.tables(s, 0.001) for s in (5, 5, 6))
        self.assertEqual(set(a), set(oracle.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))


if __name__ == "__main__":
    unittest.main()

#!/usr/bin/env python3
"""Tests of check.py's hash canonicalisation: both engines' renderings of
the same result must hash alike. Run: python3 tools/test_check.py"""
import os, sys, unittest
import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import canon


def duck(sql):
    """A result as check.py reads the oracle side."""
    return duckdb.sql(sql).df()


def spark(cols):
    """A result as check.py reads the Spark side (parquet via pyarrow)."""
    return pa.table(cols).to_pandas()


class CanonTest(unittest.TestCase):
    def test_null_boolean_hashes_alike(self):
        # DuckDB renders the null as NaN in an object column, pyarrow as None
        exp = duck("SELECT * FROM (VALUES (1, true), (2, NULL::BOOLEAN)) t(id, in_band)")
        got = spark({"id": pa.array([1, 2], pa.int32()),
                     "in_band": pa.array([True, None])})
        self.assertEqual(canon(got), canon(exp))

    def test_null_string_and_bigint_hash_alike(self):
        exp = duck("SELECT * FROM (VALUES (1, 'x', 3::BIGINT), "
                   "(2, NULL::VARCHAR, NULL::BIGINT)) t(id, s, n)")
        got = spark({"id": pa.array([1, 2], pa.int32()),
                     "s": pa.array(["x", None]),
                     "n": pa.array([3, None], pa.int64())})
        self.assertEqual(canon(got), canon(exp))

    def test_null_is_not_false(self):
        self.assertNotEqual(canon(spark({"b": pa.array([None], pa.bool_())})),
                            canon(spark({"b": pa.array([False])})))

    def test_float_columns_keep_nan_and_rounding(self):
        # a null double reads NaN on both sides, and values round to 9 dp
        exp = duck("SELECT * FROM (VALUES (0.1234567891::DOUBLE), "
                   "(NULL::DOUBLE)) t(x)")
        got = spark({"x": pa.array([0.12345678912, None])})
        self.assertEqual(canon(got), canon(exp))
        self.assertNotEqual(canon(spark({"x": pa.array([float("nan")])})),
                            canon(spark({"x": pa.array([0.0])})))


if __name__ == "__main__":
    unittest.main()

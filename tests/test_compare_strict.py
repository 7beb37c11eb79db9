"""Regression pins for the driver-strict mirror (VERDICT r6 ask #2).

Both r06 driver reds shipped because tests/compare.py normalized away
exactly the two differences the driver trips on. These tests reproduce
the pre-fix failure shapes synthetically and assert the mirror now
rejects them — and accepts the aligned shapes the fixes produce.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from compare import _strict_problems, compare


def test_int_vs_float_dtype_drift_rejected():
    # r06 tpch_q12: Spark int64 719 vs DuckDB HUGEINT→float64 719.0 —
    # values equal, driver hash differs.
    sp = pd.DataFrame({"ship_class": ["LATE"], "high_line_count": np.array([719], dtype="int64")})
    du = pd.DataFrame({"ship_class": ["LATE"], "high_line_count": np.array([719.0], dtype="float64")})
    probs = _strict_problems(sp, du)
    assert any("dtype family differs" in p and "high_line_count" in p for p in probs), probs


def test_nonscalar_cells_rejected():
    # r06 higher_order_lambda_suite: raw array column crashes the
    # driver's canonicalizer (pandas can't factorize ndarray cells).
    sp = pd.DataFrame({"k": ["O"], "haircut": [np.array([1.0, 2.0])]})
    du = pd.DataFrame({"k": ["O"], "haircut": [np.array([1.0, 2.0])]})
    probs = _strict_problems(sp, du)
    assert any("non-scalar" in p for p in probs), probs


def test_object_int_vs_float_in_object_column_rejected():
    # DuckDB occasionally returns numerics in object dtype; the family
    # check must look through to the cells.
    sp = pd.DataFrame({"v": pd.Series([7, 9], dtype="object")})
    du = pd.DataFrame({"v": pd.Series([7.0, 9.0], dtype="object")})
    probs = _strict_problems(sp, du)
    assert any("dtype family differs" in p for p in probs), probs


def test_aligned_scalars_accepted():
    sp = pd.DataFrame(
        {
            "n": np.array([2], dtype="int64"),
            "s": ["a,b"],
            "f": np.array([1.5], dtype="float64"),
            "b": np.array([True]),
        }
    )
    probs = _strict_problems(sp, sp.copy())
    assert probs == [], probs


def test_nullable_int_degrades_identically():
    # Spark toPandas and DuckDB .df() both degrade nullable BIGINT to
    # float64 (NaN for NULL) — same family on both sides, accepted.
    sp = pd.DataFrame({"v": np.array([1.0, np.nan], dtype="float64")})
    probs = _strict_problems(sp, sp.copy())
    assert probs == [], probs


def test_all_null_column_indeterminate():
    # An all-NULL object column has no dtype evidence — must not flag.
    sp = pd.DataFrame({"v": pd.Series([None, None], dtype="object")})
    du = pd.DataFrame({"v": np.array([np.nan, np.nan], dtype="float64")})
    probs = _strict_problems(sp, du)
    assert probs == [], probs


_NULL_BOOL_SQL = "SELECT * FROM (VALUES (1, true), (2, CAST(NULL AS BOOLEAN))) AS t(k, b)"


def test_null_boolean_from_each_engine_reported(spark):
    # DuckDB's .df() reads a NULL BOOLEAN as NaN in an object column,
    # Spark's toPandas() as None. The driver hashes the two differently
    # (an all-NULL boolean was a driver red), so the mirror reports it.
    con = duckdb.connect()
    for sql in (_NULL_BOOL_SQL, "SELECT CAST(NULL AS BOOLEAN) AS b"):
        problems = compare(spark.sql(sql), sql, con)
        assert any(p.startswith("NULL spelled differently in column 'b'") for p in problems), problems
    # The driver-safe spelling, COALESCE on both sides, compares equal.
    sql = f"SELECT k, COALESCE(b, false) AS b FROM ({_NULL_BOOL_SQL})"
    assert compare(spark.sql(sql), sql, con) == []

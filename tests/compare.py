"""Spark-vs-DuckDB comparison harness mimicking the driver's t2 gate:
row count + schema-width + order-insensitive value comparison with
exact equality (floats included — our aggregates are built to be
bitwise deterministic).

Driver-strictness (round 7): the driver canonicalizes both pandas
frames (sort columns by name, sort rows) and hashes the cell values.
That gate is *dtype-sensitive* — an int64 ``719`` and a float64
``719.0`` hash differently — and it *crashes* on non-scalar cells
(``pandas.sort_values`` cannot factorize ndarray cells). Both r06 reds
shipped because this mirror normalized those differences away
(ndarray→tuple, ``719 == 719.0``). The mirror now rejects:

1. any non-scalar output cell (list/tuple/ndarray/dict) on either side
   — serialize arrays to strings in the query AND the oracle instead;
2. any per-column dtype-family mismatch (int vs float vs decimal vs
   bool vs str vs date vs datetime) between the Spark and DuckDB
   frames — e.g. DuckDB's un-cast SUM(CASE…) HUGEINT lands as float64
   while Spark returns int64: cast the oracle to BIGINT instead.

Local parity green is thereby a reliable predictor of a driver green
row, not an optimistic superset of it.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from transit_data_pipeline_spark.catalog import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "item") and getattr(v, "ndim", 0) == 0:  # numpy scalar
        return _norm_cell(v.item())
    return v


def _is_nonscalar(v) -> bool:
    return isinstance(v, (list, tuple, dict, set, np.ndarray))


def _cell_family(v) -> str | None:
    """Dtype family of one Python cell (for object-dtype columns)."""
    if v is None:
        return None
    if isinstance(v, bool) or isinstance(v, np.bool_):
        return "bool"
    if isinstance(v, Decimal):
        return "decimal"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        if isinstance(v, float) and math.isnan(v):
            return None  # NaN used as a NULL marker — not evidence
        return "float"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (datetime, pd.Timestamp)):
        return "datetime"
    if isinstance(v, date):
        return "date"
    if isinstance(v, bytes):
        return "bytes"
    return type(v).__name__


def _col_family(series: pd.Series) -> str | None:
    """Dtype family of a pandas column, mirroring what the driver's
    canonicalizer sees. None = indeterminate (all-NULL column)."""
    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind in "mM":
        return "datetime"
    # object dtype: inspect non-null cells
    for v in series:
        fam = _cell_family(v)
        if fam is not None:
            return fam
    return None


def _strict_problems(sp: pd.DataFrame, du: pd.DataFrame) -> list[str]:
    """Driver-compat checks beyond value equality: non-scalar cells and
    per-column dtype-family drift, both of which flip a driver row red
    even when the values are identical."""
    problems: list[str] = []
    for side, df in (("spark", sp), ("duck", du)):
        for c in df.columns:
            if df[c].map(_is_nonscalar).any():
                problems.append(
                    f"non-scalar cells in {side} column {c!r} "
                    "(driver canonicalizer crashes on array cells — "
                    "serialize to string in both query and oracle)"
                )
    for c in sp.columns:
        if c not in du.columns:
            continue
        fa, fb = _col_family(sp[c]), _col_family(du[c])
        if fa is not None and fb is not None and fa != fb:
            problems.append(
                f"dtype family differs for column {c!r}: "
                f"spark={fa}({sp[c].dtype}) duck={fb}({du[c].dtype}) "
                "(driver hashes e.g. 719 vs 719.0 differently — "
                "cast both sides to the same type)"
            )
        na, nb = _null_spelling(sp[c]), _null_spelling(du[c])
        if na and nb and na != nb:
            problems.append(
                f"NULL spelled differently in column {c!r}: "
                f"spark={sorted(na)} duck={sorted(nb)} (a NULL BOOLEAN is "
                "None from Spark but NaN from DuckDB, and the driver hashes "
                "them differently — COALESCE it in both query and oracle)"
            )
    return problems


def _null_spelling(series: pd.Series) -> set[str]:
    """How an object column spells NULL: {"None"}, {"NaN"}, both, or
    neither. Non-object columns spell it the same on both engines."""
    if series.dtype != object:
        return set()
    return {
        "None" if v is None else "NaN"
        for v in series
        if v is None or (isinstance(v, float) and math.isnan(v))
    }


def _canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def compare(spark_df, oracle_sql: str, con: duckdb.DuckDBPyConnection) -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    problems: list[str] = []
    sp = spark_df.toPandas()
    du = con.execute(oracle_sql).df()
    if sorted(sp.columns) != sorted(du.columns):
        problems.append(f"columns differ: spark={sorted(sp.columns)} duck={sorted(du.columns)}")
        return problems
    problems.extend(_strict_problems(sp, du))
    if problems:
        # Non-scalar cells would crash _canon's sort just like the
        # driver; report the structural defect and stop here.
        if any("non-scalar" in p for p in problems):
            return problems
    if len(sp) != len(du):
        problems.append(f"row count differs: spark={len(sp)} duck={len(du)}")
    a, b = _canon(sp), _canon(du)
    if len(a) == len(b):
        n_bad = 0
        for i, (ra, rb) in enumerate(zip(a, b)):
            if ra != rb:
                n_bad += 1
                if n_bad <= 3:
                    problems.append(f"row {i} differs:\n  spark={ra}\n  duck ={rb}")
        if n_bad:
            problems.append(f"{n_bad}/{len(a)} rows differ")
    elif not problems:
        problems.append("row sets differ")
    return problems

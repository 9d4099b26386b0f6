"""Local mirror of the driver's DuckDB-oracle comparison (SURVEY.md §5.2).

Replicates: row count + schema (column names) + order-insensitive value
comparison. Values are normalized to canonical strings (exact — no
tolerance): the engine's determinism conventions (decimal-sum bridge,
BIGINT casts, tie-broken ranks) are what make exact comparison possible.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import numpy as np
import pandas as pd

from join_example_spark.sources.readers import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir.rstrip('/')}/{t}.parquet')"
        )
    return con


def _cell(v) -> str:
    # NaN gets a distinct token from SQL NULL: both engines surface a float
    # NULL as NaN after pandas collection, so '<NaN>' still matches across
    # sides, while a genuine NULL-vs-NaN divergence in an object column is
    # no longer silently conflated.
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else repr(v)
    if isinstance(v, np.floating):
        fv = float(v)
        return "<NaN>" if math.isnan(fv) else repr(fv)
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, dt.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if v is pd.NaT:
        return "<NULL>"
    try:
        if pd.isna(v):
            return "<NULL>"
    except (TypeError, ValueError):
        pass
    return str(v)


def _dtype_divergences(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    """Int-vs-float dtype divergence between the two sides is a HARD failure.

    The driver stringifies raw cells without harmonizing dtypes, so a DuckDB
    HUGEINT sum landing as float64 (``10003.0``) against Spark's int64
    (``10003``) hash-mismatches driver-side even when values are equal
    (CORRECTNESS_r01: q_pivot, q_fn_bitwise). The old mirror cast both sides
    to float64 here — exactly the leniency that let those bugs through.
    """
    diverged = []
    for col in a.columns:
        da, db = a[col], b[col]
        ia = pd.api.types.is_integer_dtype(da)
        ib = pd.api.types.is_integer_dtype(db)
        fa = pd.api.types.is_float_dtype(da)
        fb = pd.api.types.is_float_dtype(db)
        if (ia and fb) or (fa and ib):
            diverged.append(
                f"dtype divergence on {col!r}: spark={da.dtype} oracle={db.dtype}"
                " (driver hashes raw cells — CAST both sides to the same type)"
            )
    return diverged


def _harmonize(a: pd.DataFrame, b: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Representation-only normalization (kept deliberately minimal).

    datetime64 vs date objects: normalize datetimes-at-midnight only when
    the opposite side is dates (DuckDB returns DATE as dtype object of
    datetime.date; Spark returns DateType the same way — this guard is for
    any pandas version drift). Int/float divergence is NOT harmonized — it
    is reported as a failure by :func:`_dtype_divergences`.
    """
    a, b = a.copy(), b.copy()
    for col in a.columns:
        da, db = a[col], b[col]
        dta = pd.api.types.is_datetime64_any_dtype(da)
        dtb = pd.api.types.is_datetime64_any_dtype(db)
        if dta != dtb:
            # one side datetime64, other side objects (dates) — compare as dates
            def _as_date(s):
                if pd.api.types.is_datetime64_any_dtype(s):
                    return s.dt.date
                return s

            a[col] = _as_date(da)
            b[col] = _as_date(db)
    return a, b


def normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(tuple(_cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    return cols, rows


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    s_cols = sorted(spark_pdf.columns)
    o_cols = sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return [f"column mismatch: spark={s_cols} oracle={o_cols}"]
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    problems.extend(_dtype_divergences(spark_pdf[s_cols], oracle_pdf[o_cols]))
    s_h, o_h = _harmonize(spark_pdf[s_cols], oracle_pdf[o_cols])
    _, s_rows = normalize(s_h)
    _, o_rows = normalize(o_h)
    if s_rows != o_rows:
        diff_s = [r for r in s_rows if r not in set(o_rows)][:5]
        diff_o = [r for r in o_rows if r not in set(s_rows)][:5]
        problems.append(
            f"value mismatch ({len(diff_s)}+ spark-only / {len(diff_o)}+ oracle-only rows)\n"
            f"  spark-only sample: {diff_s}\n  oracle-only sample: {diff_o}"
        )
    return problems


def run_compare(spark, name: str, sf_dir: str) -> list[str]:
    """Run declared query `name` on Spark and its oracle on DuckDB; compare."""
    from join_example_spark.registry import load_all

    spec = load_all()[name]
    assert spec.oracle is not None, f"{name} is rows-only"
    return compare_fn(spark, spec.fn, spec.oracle, sf_dir)


def compare_fn(spark, fn, oracle_sql: str, sf_dir: str) -> list[str]:
    """Run ``fn(spark, sf_dir)`` on Spark and ``oracle_sql`` on DuckDB;
    compare. Also serves the plain reference functions that are not
    declared queries but keep a row-level oracle twin."""
    spark_pdf = fn(spark, sf_dir).toPandas()
    con = duckdb_connection(sf_dir)
    try:
        oracle_pdf = con.sql(oracle_sql).df()
    finally:
        con.close()
    return compare_frames(spark_pdf, oracle_pdf)

"""Shared helpers for the query surface."""

from __future__ import annotations

import math
import numbers

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # UTC pin so Spark timestamps hash identically to DuckDB's UTC-naive ones
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _is_null(v) -> bool:
    return (
        v is None
        or v is pd.NA
        or v is pd.NaT
        or (isinstance(v, (float, np.floating)) and bool(np.isnan(v)))
    )


def _num_kind(v) -> str | None:
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, numbers.Integral):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    return None


def _values_equal(a, b, rel_tol: float, abs_tol: float) -> bool:
    if {_num_kind(a), _num_kind(b)} == {"int", "float"}:
        return False  # 3436 vs 3436.0: equal in Python, not to the board's hash
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(
            _values_equal(x, y, rel_tol, abs_tol) for x, y in zip(a, b)
        )
    if _is_null(a) or _is_null(b):
        return _is_null(a) and _is_null(b)
    if _num_kind(a) == _num_kind(b) == "float":
        return math.isclose(a, b, rel_tol=rel_tol, abs_tol=abs_tol)
    return a == b


def _canon_frame(df):
    """Columns sorted by name, lists as tuples, datetimes tz-naive ns, rows
    sorted (by value; by string form when values don't order)."""
    def as_tuple(v):
        return tuple(as_tuple(x) for x in v) if isinstance(v, (list, tuple, np.ndarray)) else v

    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(as_tuple)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]")
    cols = list(df.columns)
    try:
        df = df.sort_values(cols, kind="mergesort")
    except TypeError:
        df = df.sort_values(cols, kind="mergesort", key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def oracle_mismatches(
    got, exp, rel_tol: float = 1e-9, abs_tol: float = 1e-9
) -> list[str]:
    """Compare a query's pandas result with its DuckDB oracle's, the way
    the CORRECTNESS board's order-insensitive value hash does
    (``__spark_entry__.py``): same column names, row count and values
    after column and row sort. Dtype-strict: a column
    that is integer-typed on one side and float-typed on the other fails
    even when the numbers are equal (DuckDB's ``sum(BIGINT)`` is HUGEINT,
    which reaches pandas as float64 and hashes differently from Spark's
    bigint). Returns the problems found; empty means the row passes."""
    if sorted(got.columns) != sorted(exp.columns):
        return [f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"]
    if len(got) != len(exp):
        return [f"rows {len(got)} vs {len(exp)}"]
    g, e = _canon_frame(got), _canon_frame(exp)
    problems = []
    for c in g.columns:
        kinds = {g[c].dtype.kind, e[c].dtype.kind}
        if kinds & set("iu") and "f" in kinds:
            problems.append(f"{c}: dtype {got[c].dtype} vs {exp[c].dtype}")
            continue
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(g[c].tolist(), e[c].tolist()))
            if not _values_equal(x, y, rel_tol, abs_tol)
        ]
        if bad:
            problems.append(f"{c}: first mismatches {bad[:5]}")
    return problems

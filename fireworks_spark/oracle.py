"""DuckDB differential-oracle harness (mirrors the driver's t2 check:
row-count + schema + order-insensitive value comparison).

Used by tests; the driver runs its own equivalent against
``__spark_entry__.queries()`` / ``oracle_sql()``.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb
import pandas as pd


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with every test table registered as a view."""
    from fireworks_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, then rows by every column (order-insensitive).
    Array cells (list / tuple / numpy.ndarray) become tuples so they sort and
    compare element-wise."""
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].map(
                lambda v: tuple(v.tolist())
                if hasattr(v, "tolist") and hasattr(v, "__len__")
                else tuple(v)
                if isinstance(v, (list, tuple))
                else v
            )
    out = out.sort_values(by=list(out.columns), na_position="first").reset_index(
        drop=True
    )
    return out


def _norm_dtype(dt: Any) -> str:
    """Coarse dtype family used for schema comparison: integers vs floats vs
    bool vs everything-else (object covers strings/arrays/timestamps, which
    the value comparison handles)."""
    s = str(dt)
    if "int" in s.lower():
        return "int"
    if "float" in s.lower() or "double" in s.lower():
        return "float"
    if "bool" in s.lower():
        return "bool"
    return "other"


def _values_equal(a: Any, b: Any, rel_tol: float = 1e-9) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=rel_tol, abs_tol=1e-9)
    return a == b


def compare(
    spark_df, oracle_df: pd.DataFrame, spark_pdf: pd.DataFrame | None = None
) -> list[str]:
    """Return a list of human-readable mismatches (empty == pass).

    ``spark_pdf`` lets a caller that already collected the Spark result
    (e.g. tools/sf1_sweep.py, which times the collect) pass it in instead
    of paying a second full materialization.
    """
    sp = canonicalize(spark_pdf if spark_pdf is not None else spark_df.toPandas())
    oc = canonicalize(oracle_df)
    problems: list[str] = []
    if list(sp.columns) != list(oc.columns):
        problems.append(f"columns: spark={list(sp.columns)} oracle={list(oc.columns)}")
        return problems
    for c in sp.columns:
        ds, do = _norm_dtype(sp[c].dtype), _norm_dtype(oc[c].dtype)
        if ds != do:
            problems.append(f"dtype {c}: spark={sp[c].dtype} oracle={oc[c].dtype}")
    if problems:
        return problems
    if len(sp) != len(oc):
        problems.append(f"rowcount: spark={len(sp)} oracle={len(oc)}")
        return problems
    for c in sp.columns:
        sv, ov = sp[c].tolist(), oc[c].tolist()
        bad = [
            (i, x, y)
            for i, (x, y) in enumerate(zip(sv, ov))
            if not _series_val_eq(x, y)
        ]
        if bad:
            problems.append(f"col {c}: {len(bad)} diffs, first={bad[:3]}")
    return problems


def _series_val_eq(x: Any, y: Any) -> bool:
    # numpy arrays -> tuples (numpy scalars also expose tolist, hence __len__)
    if hasattr(x, "tolist") and hasattr(x, "__len__"):
        x = tuple(x.tolist())
    if hasattr(y, "tolist") and hasattr(y, "__len__"):
        y = tuple(y.tolist())
    if isinstance(x, (list, tuple)) and isinstance(y, (list, tuple)):
        return len(x) == len(y) and all(_series_val_eq(a, b) for a, b in zip(x, y))
    if pd.isna(x) if not isinstance(x, (list, tuple)) else False:
        return (pd.isna(y) if not isinstance(y, (list, tuple)) else False) is True
    if isinstance(y, float) or isinstance(x, float):
        try:
            return _values_equal(float(x), float(y))
        except (TypeError, ValueError):
            return False
    try:
        import decimal

        if isinstance(x, decimal.Decimal) or isinstance(y, decimal.Decimal):
            return _values_equal(float(x), float(y))
    except (TypeError, ValueError, ArithmeticError):
        pass
    return x == y

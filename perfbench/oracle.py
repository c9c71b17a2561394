"""Exact result comparison against DuckDB.

Same rule as the repository's oracle-parity harness: equal row counts,
equal column names, and equal values once rows are sorted by every column
(columns in name order). No float tolerance: the query surface is built
to match its oracle bit for bit.
"""

from __future__ import annotations

import duckdb
import pandas as pd


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = _normalize(got), _normalize(want)
    for c in a.columns:
        bc = b[c]
        try:
            bc = bc.astype(a[c].dtype)
        except (TypeError, ValueError):
            pass
        if not a[c].equals(bc):
            return f"values differ in column {c}"
    return None


"""Output check: DuckDB oracle parity, outside the timed region.

A query's Spark result and its registered DuckDB oracle run over the
same generated parquet. They agree when they have the same column
names, the same row count and the same order-insensitive value hash.
Floats are compared at 12 significant digits, so a last-place
difference from summation order is not a mismatch but any real change
of value is.
"""

from __future__ import annotations

import datetime
import hashlib
import math

import duckdb
import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>" if pd.isna(v) else "<nan>"
        return "0" if v == 0 else f"{v:.12g}"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return str(v)


def digest(pdf: pd.DataFrame) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, order-insensitive value hash)."""
    cols = tuple(sorted(pdf.columns))
    rows = sorted(
        "\x1f".join(_cell(v) for v in row) for row in pdf[list(cols)].itertuples(index=False)
    )
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return cols, len(rows), h


def oracle_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the two results agree, else a one-line reason."""
    got, want = digest(spark_pdf), digest(oracle_pdf)
    if got[0] != want[0]:
        return f"columns {list(got[0])} != oracle {list(want[0])}"
    if got[1] != want[1]:
        return f"{got[1]} rows != oracle {want[1]}"
    if got[2] != want[2]:
        return "values differ from oracle"
    return None

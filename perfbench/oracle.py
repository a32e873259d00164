"""Output checks: order-insensitive hash comparison against DuckDB."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import tempfile

import duckdb
import pandas as pd


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return v.isoformat()
    if v is pd.NaT:
        return "NULL"
    return str(v)


def rows_hash(df: pd.DataFrame) -> str:
    """Hash of the rows of ``df`` with columns sorted by name and rows
    sorted, so column and row order do not matter."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row) for row in df[cols].itertuples(index=False)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


def connect(table_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet file in ``table_dir``."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(table_dir, f)}'"
            )
    return con


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return rows_hash(got) == rows_hash(want)

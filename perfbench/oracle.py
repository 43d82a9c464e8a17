"""Result checks made apart from the engine: DuckDB twins and canonical rows.

Both sides are read through pandas (`toPandas()` for the engine, `.df()` for
DuckDB) and compared on ordered column names, row count, and an
order-insensitive multiset of canonical cells (floats at 9 significant
digits, timestamps floored to microseconds, a float never equal to an int).
"""

from __future__ import annotations

import datetime as dt
import decimal

import duckdb
import numpy as np
import pandas as pd


def connect(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """One in-process DuckDB with a view per parquet table of `data_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return "true" if bool(v) else "false"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    try:
        if pd.isna(v):
            return "nan" if isinstance(v, (float, np.floating)) else "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f == 0:
            return "0.0"
        s = f"{f:.9g}"
        if "." not in s and "e" not in s and "inf" not in s:
            s += ".0"
        return s
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return "dec:" + f"{float(v):.9g}"
    if isinstance(v, pd.Timestamp):
        return v.floor("us").isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (dt.timedelta, pd.Timedelta, np.timedelta64)):
        return f"{pd.Timedelta(v).total_seconds()}s"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return str(v)


def canonize(cols, frame: pd.DataFrame) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = frame.to_numpy(dtype=object)
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


class Expected:
    """A DuckDB twin's answer, canonized once and compared many times."""

    def __init__(self, con: duckdb.DuckDBPyConnection, sql: str):
        rel = con.sql(sql)
        self.cols = list(rel.columns)
        self.rows = canonize(self.cols, rel.df())

    def mismatch(self, frame: pd.DataFrame) -> str | None:
        """None when `frame` equals the twin's answer, else the first reason."""
        cols = list(frame.columns)
        if cols != self.cols:
            return f"columns {cols} != {self.cols}"
        if len(frame) != len(self.rows):
            return f"row count {len(frame)} != {len(self.rows)}"
        got = canonize(cols, frame)
        if got != self.rows:
            diff = next((a, b) for a, b in zip(got, self.rows) if a != b)
            return f"values differ, first: {diff}"
        return None

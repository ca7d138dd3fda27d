"""Correctness gate: engine results against DuckDB oracles over the same
files, with the row normalisation the repository's oracle tests use
(column names sorted case-insensitively, floats rounded to 9
significant digits, Decimal as float, rows compared as a multiset)."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
from collections import Counter

import duckdb


def _norm_cell(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, int):
        return v
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return str(v)


def normalized_rows(cols: list[str], rows) -> Counter:
    """The rows as a multiset of normalised tuples, columns in name order."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def arrow_rows(table) -> tuple[list[str], list[tuple]]:
    """Lower-cased column names and row tuples of plain Python values
    of a collected Arrow table."""
    cols = [c.lower() for c in table.column_names]
    return cols, list(zip(*(table.column(i).to_pylist() for i in range(table.num_columns))))


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            con.execute(
                f"CREATE VIEW {name[: -len('.parquet')]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0].lower() for d in res.description], res.fetchall()


def mismatch(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when the two results agree, else a one-line reason."""
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if sorted(g_cols) != sorted(w_cols):
        return f"columns differ: {sorted(g_cols)} vs {sorted(w_cols)}"
    if len(g_rows) != len(w_rows):
        return f"row count differs: {len(g_rows)} vs {len(w_rows)}"
    gn, wn = normalized_rows(g_cols, g_rows), normalized_rows(w_cols, w_rows)
    if gn != wn:
        extra = next(iter(gn - wn), None)
        missing = next(iter(wn - gn), None)
        return f"{sum((gn - wn).values())} rows differ, e.g. {extra} instead of {missing}"
    return None

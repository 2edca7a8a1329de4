"""Result checks: Spark rows against DuckDB rows, order-insensitive.

Values must match exactly, as in the repository's own parity suite; the
oracle SQL is written to be bit-exact (decimal sums, integer scores).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb


def connect(corpus_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(f"SET threads={threads}")
    for t in ("documents", "events"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(corpus_dir, t)}.parquet')")
    return con


def _value(v):
    if isinstance(v, float) and math.isnan(v):
        return ("nan",)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_value(x) for x in v)
    return v


def _sort_key(v):
    if v is None:
        return (0, 0)
    if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
        return (1, float(v))
    if isinstance(v, str):
        return (2, v)
    return (3, repr(v))


def canonical(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name, each row re-ordered to match, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda row: tuple(_sort_key(v) for v in row))
    return tuple(columns[i] for i in order), out


def duck_rows(con, sql: str):
    rel = con.sql(sql)
    return canonical(list(rel.columns), rel.fetchall())


def mismatch(got, want) -> str | None:
    """None when two canonical results agree, else a short reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"row {i}: {a!r} != {b!r}"
    return None

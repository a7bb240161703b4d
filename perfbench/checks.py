"""Correctness checks, run outside the timed phase.

Both checks use DuckDB, so the engine under test never judges itself.

- ``check_destination``: one tenant's destination holds exactly the
  source rows in ``[epoch, final watermark)`` for that tenant, with no key
  loaded twice.
- ``result_digest`` / ``oracle_digest``: a query's result reduced to its
  row count, sorted column names and an order-insensitive value hash, the
  same comparison the catalog's oracle parity checks make.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import os


def _ts_sql(value: dt.datetime) -> str:
    return f"TIMESTAMP '{value:%Y-%m-%d %H:%M:%S.%f}'"


def check_destination(
    con,
    source_path: str,
    source_filter: str,
    dest_path: str,
    ts_col: str,
    key_cols: tuple[str, ...],
    watermark: dt.datetime,
) -> list[str]:
    """Problems found in one tenant's destination (empty when correct)."""
    files = glob.glob(os.path.join(dest_path, "**", "*.parquet"), recursive=True)
    if not files:
        return [f"{dest_path}: no parquet files"]
    keys = ", ".join(key_cols)
    dest = f"read_parquet({files!r}, hive_partitioning = false)"
    want = (
        f"SELECT {keys} FROM read_parquet('{source_path}') "
        f"WHERE ({source_filter}) AND {ts_col} < {_ts_sql(watermark)}"
    )
    n_dest, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT ({keys})) FROM {dest}"
    ).fetchone()
    n_want = con.sql(f"SELECT count(*) FROM ({want})").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM ({want} EXCEPT SELECT {keys} FROM {dest})").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT {keys} FROM {dest} EXCEPT {want})").fetchone()[0]
    problems = []
    if n_dest != n_distinct:
        problems.append(f"{dest_path}: {n_dest - n_distinct} duplicate keys")
    if n_dest != n_want:
        problems.append(f"{dest_path}: {n_dest} rows, expected {n_want}")
    if missing or extra:
        problems.append(f"{dest_path}: {missing} source rows missing, {extra} unexpected rows")
    return problems


def _digest(columns: list[str], rows) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted columns, order-insensitive hash); ``rows`` are
    tuples already projected onto the sorted columns."""
    lines = sorted("\x1f".join(repr(v) for v in row) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return len(lines), tuple(columns), h.hexdigest()


def result_digest(df) -> tuple[int, tuple[str, ...], str]:
    cols = sorted(df.columns)
    return _digest(cols, (tuple(r[c] for c in cols) for r in df.collect()))


def oracle_digest(con, sql: str) -> tuple[int, tuple[str, ...], str]:
    res = con.sql(sql)
    names = list(res.columns)
    cols = sorted(names)
    idx = [names.index(c) for c in cols]
    return _digest(cols, (tuple(r[i] for i in idx) for r in res.fetchall()))

"""DuckDB oracle for registry queries, compared by the rule of
``tools/verify_oracle.py``: same column set, same row count, and equal
rows once columns are sorted by name and rows are sorted on a type-tagged
key, with datetimes as ISO strings, decimals as strings and floats by repr.
The sorted rows are compared through a SHA-256 digest."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import os

import duckdb

from datagen import TABLES


def _norm(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    return v


def _key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a result."""
    order = [columns.index(c) for c in sorted(columns)]
    normed = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_key)
    h = hashlib.sha256(repr((sorted(columns), normed)).encode())
    return len(rows), h.hexdigest()


def expected(sf_dir: str, specs) -> dict[str, tuple[int, str]]:
    """Run each spec's oracle SQL on DuckDB over the same parquet files."""
    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for spec in specs:
            rel = con.sql(spec.oracle)
            out[spec.name] = digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()

"""Output checks: engine rows against DuckDB on the same parquet files, or
against a recorded row count and content hash where no oracle exists."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

REL_TOL = 1e-9
ABS_TOL = 1e-9
ROUNDED_REL_TOL = 1e-6  # cap on the last-digit slack of rounded values
HASH_DIGITS = 6  # float digits kept by the content hash


def canon(v):
    """One value in a form both engines' Python results share."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):  # arrays, structs and Spark Rows
        return tuple(canon(x) for x in v)
    return str(v)


def _decimals(x: float) -> int:
    """Digits after the point in the shortest repr of ``x`` (17 if none)."""
    r = repr(x)
    if "e" in r or "n" in r:
        return 17
    return len(r.split(".")[1]) if "." in r else 0


def _sort_key(v):
    # floats sort coarsely (and rows sort on their other columns first):
    # two engines' values of one row may differ in their last digit, and
    # the rows must still pair up after sorting
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, int):
        return (1, v)
    if isinstance(v, float):
        return (1, round(v, 1))
    if isinstance(v, tuple):
        return (3, tuple(_sort_key(x) for x in v))
    return (2, str(v))


def canon_rows(rows) -> list[tuple]:
    out = [tuple(canon(x) for x in r) for r in rows]
    out.sort(
        key=lambda r: (
            tuple(_sort_key(x) for x in r if not isinstance(x, float)),
            tuple(_sort_key(x) for x in r if isinstance(x, float)),
        )
    )
    return out


def floats_match(a: float, b: float) -> bool:
    """Equal within a relative 1e-9, or, for large values rounded to at
    most six decimals, within one unit of the last kept digit: the engines
    add in different orders, and a sum sitting on a rounding boundary may
    round either way. That slack is also capped at a relative ROUNDED_REL_TOL,
    so a short repr alone (1.0 against 0.9) never passes."""
    if math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL):
        return True
    d = max(_decimals(a), _decimals(b))
    diff = abs(a - b)
    return d <= 6 and diff <= 1.5 * 10.0**-d and diff <= ROUNDED_REL_TOL * max(abs(a), abs(b))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if isinstance(a, str) or isinstance(b, str):
            return False
        return floats_match(float(a), float(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def rows_match(got, want) -> str | None:
    """None when the two row multisets agree, else a one-line reason."""
    g, w = canon_rows(got), canon_rows(want)
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    for i, (a, b) in enumerate(zip(g, w)):
        if not _same(a, b):
            return f"row {i}: {a!r} != {b!r}"
    return None


def _hashable(v):
    if isinstance(v, float):
        return round(v, HASH_DIGITS) + 0.0  # +0.0 folds -0.0 into 0.0
    if isinstance(v, tuple):
        return [_hashable(x) for x in v]
    return v


def content_hash(rows) -> str:
    """Order-insensitive hash of a result, floats rounded to 6 digits."""
    lines = sorted(json.dumps(_hashable(r)) for r in canon_rows(rows))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def duckdb_connect(data_dir: str, tables):
    """DuckDB with one view per parquet table of ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con

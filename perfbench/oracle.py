"""Answer checking: DuckDB computes the expected result of every
request, outside the timed loop, and each Spark answer is compared by
row count plus an order-insensitive hash of its normalized values.

Normalization is the benchmark's own copy of the rules the package's
differential tests use: columns sorted by name, floats rounded to 6
decimals, integers as int64, dates and timestamps as ISO strings
(UTC), NaN as NULL. A hash mismatch is re-checked value by value with
the same 1e-6 relative/absolute tolerance before it counts as a
failure, so last-bit summation-order noise is not a wrong answer.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal

import duckdb

FLOAT_DECIMALS = 6
TOLERANCE = 1e-6


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        r = round(f, FLOAT_DECIMALS)
        return 0.0 if r == 0 else r
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Name-sorted columns, normalized values, sorted rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def digest(norm_rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in norm_rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()


class Answer:
    """A normalized result: row count, hash, and the rows for the
    tolerant re-check."""

    __slots__ = ("rows", "count", "hash")

    def __init__(self, columns: list[str], rows: list[tuple]):
        self.rows = normalize(columns, rows)
        self.count = len(self.rows)
        self.hash = digest(self.rows)


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= TOLERANCE * (1 + abs(b))
    return a == b


def matches(got: Answer, want: Answer) -> bool:
    if got.count != want.count:
        return False
    if got.hash == want.hash:
        return True
    return all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got.rows, want.rows)
    )


class Oracle:
    """A DuckDB connection over the benchmark's own copy of the data."""

    def __init__(self):
        self.con = duckdb.connect(config={"threads": 2})
        self.con.execute("SET TimeZone = 'UTC'")

    def view_parquet(self, name: str, path: str) -> None:
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def table_from_frame(self, name: str, frame) -> None:
        self.con.register(f"_{name}_src", frame)
        self.con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM _{name}_src")
        self.con.unregister(f"_{name}_src")

    def append_frame(self, name: str, frame) -> None:
        self.con.register(f"_{name}_src", frame)
        self.con.execute(f"INSERT INTO {name} SELECT * FROM _{name}_src")
        self.con.unregister(f"_{name}_src")

    def answer(self, sql: str) -> Answer:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return Answer(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()

"""Result check against the DuckDB oracle.

A result is reduced to (sorted column names, row count, value digest).
The digest hashes every row's cells as canonical strings, sorted, so it
ignores row and column order but keeps value kinds apart the way a
stringified hash does: ``5`` and ``5.0`` differ, as do ``Decimal('1.70')``
and ``1.7``. Timestamps compare as UTC epoch microseconds.
"""

from __future__ import annotations

import calendar
import datetime as dt
import decimal
import hashlib
import os

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _cell(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "nan" if v != v else repr(v + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, decimal.Decimal):
        return "d" + str(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return "t%d" % (calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond)
    if isinstance(v, dt.date):
        return "D" + v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_cell(x)}" for k, x in v.items()) + "}"
    if hasattr(v, "asDict"):  # Spark struct Row, matched to DuckDB's dict
        return _cell(v.asDict())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    return "s" + str(v)


def digest(columns: list[str], rows) -> tuple[tuple[str, ...], int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256("\x1e".join(lines).encode()).hexdigest()
    return tuple(columns[i] for i in order), len(lines), h


class Oracle:
    """DuckDB over the same parquet files the engine reads."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for name in TABLES:
            path = os.path.join(data_dir, f"{name}.parquet")
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )

    def expect(self, sql: str) -> tuple[tuple[str, ...], int, str]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return digest(cols, cur.fetchall())

    def close(self) -> None:
        self.con.close()


def mismatch(got, want) -> str | None:
    """None when ``got`` matches ``want``, else a one-line reason."""
    if got[0] != want[0]:
        return f"columns {list(got[0])} != {list(want[0])}"
    if got[1] != want[1]:
        return f"rows {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return "values differ"
    return None

"""Output checks, run outside the timed region.

Rows are canonicalised (columns sorted by name, values typed, floats
rounded to 9 significant digits) and compared as sorted multisets, so
row order and float summation order do not matter. A check returns
``None`` when the output is right and the mismatch text otherwise.

This is kept apart from ``tests/harness.py``, so that a change to the
test suite cannot change what the benchmark accepts. It also takes rows
that were read back with pyarrow, not only Spark rows.
"""

from __future__ import annotations

import datetime
import hashlib
from decimal import Decimal

import duckdb


def _canon(v):
    if v is None:
        return ("none",)
    if isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", float(f"{v:.9g}"))
    if isinstance(v, Decimal):
        return ("f", float(f"{float(v):.9g}"))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("ts", datetime.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), _canon(x)) for k, x in v.items())))
    if hasattr(v, "asDict"):  # pyspark Row inside a struct column
        return _canon(v.asDict())
    if hasattr(v, "tolist"):  # numpy arrays / scalars from DuckDB
        return _canon(v.tolist())
    return ("s", str(v))


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows), key=repr
    )


def rows_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive md5) of a collected result."""
    canon = canonical_rows(columns, rows)
    h = hashlib.md5()
    h.update(repr(sorted(c.lower() for c in columns)).encode())
    for r in canon:
        h.update(repr(r).encode())
    return len(canon), h.hexdigest()


class Oracle:
    """DuckDB over the same lake; canonical results cached per query."""

    def __init__(self, lake_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{lake_dir}/{t}.parquet')"
            )
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, name: str, sql: str) -> tuple[list[str], list[tuple]]:
        if name not in self._cache:
            rel = self.con.execute(sql)
            cols = [d[0] for d in rel.description]
            self._cache[name] = (
                sorted(c.lower() for c in cols),
                canonical_rows(cols, rel.fetchall()),
            )
        return self._cache[name]

    def check(self, name: str, sql: str, columns: list[str], rows) -> str | None:
        exp_cols, exp_rows = self.expected(name, sql)
        got_cols = sorted(c.lower() for c in columns)
        if got_cols != exp_cols:
            return f"{name}: columns differ: got {got_cols} want {exp_cols}"
        got = canonical_rows(columns, rows)
        if len(got) != len(exp_rows):
            return f"{name}: {len(got)} rows, oracle has {len(exp_rows)}"
        bad = sum(1 for a, b in zip(got, exp_rows) if a != b)
        if bad:
            first = next((a, b) for a, b in zip(got, exp_rows) if a != b)
            return f"{name}: {bad} rows differ from the oracle, first {first}"
        return None

    def close(self) -> None:
        self.con.close()

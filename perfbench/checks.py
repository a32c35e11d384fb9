"""Output checks: compare a result set with its DuckDB oracle.

The comparison is the package's own parity rule: same column names, same
row count, and the same multiset of rows with columns ordered by name.
Cells compare exactly (floats bit-for-bit, NaN equal to NaN).
"""

from __future__ import annotations

import math
from decimal import Decimal
from pathlib import Path
from typing import Any, Sequence

import duckdb

CORPUS_TABLES = ("documents", "embeddings", "orders")


def _cell(v: Any) -> Any:
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_cell(x) for x in v)
    return v


def canonical(columns: Sequence[str], rows: Sequence[Sequence[Any]]) -> tuple[tuple[str, ...], list[tuple]]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return tuple(columns[i] for i in order), out


class Oracle:
    """DuckDB views over one corpus directory; ``expect(name)`` runs the
    query's oracle SQL once and caches the canonical result."""

    def __init__(self, corpus_dir: Path, sql: dict[str, str]) -> None:
        self.sql = sql
        self.con = duckdb.connect()
        for t in CORPUS_TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir / f'{t}.parquet'}'")
        self._cache: dict[str, tuple[tuple[str, ...], list[tuple]]] = {}

    def expect(self, name: str) -> tuple[tuple[str, ...], list[tuple]]:
        if name not in self._cache:
            rel = self.con.sql(self.sql[name])
            self._cache[name] = canonical(list(rel.columns), rel.fetchall())
        return self._cache[name]

    def mismatch(self, name: str, columns: Sequence[str], rows: Sequence[Sequence[Any]]) -> str | None:
        """None when the result equals the oracle, else a one-line reason."""
        want_cols, want = self.expect(name)
        got_cols, got = canonical(list(columns), rows)
        if got_cols != want_cols:
            return f"{name}: columns {got_cols} != oracle {want_cols}"
        if len(got) != len(want):
            return f"{name}: {len(got)} rows != oracle {len(want)}"
        bad = sum(1 for a, b in zip(got, want) if a != b)
        if bad:
            first = next((a, b) for a, b in zip(got, want) if a != b)
            return f"{name}: {bad} rows differ from oracle, first {first}"
        return None

    def close(self) -> None:
        self.con.close()

"""Comparators between the engine's outputs and independent DuckDB
computations. Every check returns a list of mismatch descriptions; an
empty list means the output is correct."""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb


def canonical(value) -> str:
    """One canonical string per value, so rows compare across engines:
    floats to 6 decimals, NaN and None as NULL, datetimes as ISO text."""
    if value is None or (isinstance(value, float) and math.isnan(value)):
        return "NULL"
    if isinstance(value, float):
        return f"{value:.6f}"
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return str(value)


def normalize(df) -> list[tuple[str, ...]]:
    """pandas frame -> sorted row tuples over name-sorted columns."""
    df = df[sorted(df.columns)]
    return sorted(
        tuple(canonical(v) for v in row) for row in df.itertuples(index=False)
    )


def multiset_diff(expected, actual, label: str, limit: int = 3) -> list[str]:
    """Mismatches between two row multisets: one description listing the
    missing and unexpected rows, or nothing when they agree."""
    want, got = Counter(expected), Counter(actual)
    missing = list((want - got).elements())
    extra = list((got - want).elements())
    if not missing and not extra:
        return []
    return [
        f"{label}: {len(missing)} missing rows {missing[:limit]}, "
        f"{len(extra)} unexpected rows {extra[:limit]}"
    ]


def frames_match(expected_df, actual_df, label: str) -> list[str]:
    """Column names and the order-insensitive value multiset agree."""
    if sorted(expected_df.columns) != sorted(actual_df.columns):
        return [
            f"{label}: columns differ: expected {sorted(expected_df.columns)} "
            f"got {sorted(actual_df.columns)}"
        ]
    return multiset_diff(normalize(expected_df), normalize(actual_df), label)


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con

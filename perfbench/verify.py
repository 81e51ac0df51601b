"""Output checks for the query workloads.

A query with a DuckDB oracle (``registry.all_oracles()``) is compared
with it by the test suite's own rule, ``tests/conftest.compare_frames``:
same row count, same columns, and equal cells after sorting columns by
name and rows by value, where floats must be bit-equal (NaN equals NaN)
and other cells equal as text. Every checked result must also be
non-empty.
"""

from __future__ import annotations

import pandas as pd


def check(result: pd.DataFrame, oracle_sql: str, con) -> str | None:
    """None when ``result`` is non-empty and equals the DuckDB oracle's
    rows, else the reason it does not verify."""
    from conftest import compare_frames

    if len(result) == 0:
        return "empty result"
    try:
        compare_frames(result.copy(), con.execute(oracle_sql).fetchdf(), "result")
    except AssertionError as exc:
        return f"oracle mismatch: {exc}"
    return None

"""Output checks: DuckDB oracles for registry queries, generator truth for
the ETL and curated-table results.  Every check returns ``None`` when the
output is correct and a one-line reason otherwise."""

from __future__ import annotations

import pandas as pd


def query_differs(name: str, got: pd.DataFrame, oracle_sql: str, data_dir: str) -> str | None:
    """Compare a registry query's output with its oracle SQL, run by DuckDB
    over the same parquet files, using the repository's parity harness."""
    from tests.parity import assert_frames_match, oracle_df

    try:
        assert_frames_match(got, oracle_df(oracle_sql, data_dir), name)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def rows_differ(got: list[tuple], want: list[tuple]) -> str | None:
    """Exact comparison of two ordered row lists."""
    if got == want:
        return None
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"row {i}: {g!r} != {w!r}"
    return f"{len(got)} rows != {len(want)}"

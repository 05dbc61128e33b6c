"""Output checks, all run outside the timed regions.

`frames_match` applies the engine test suite's exact-match rule (row count,
column names, then order-insensitive exact values after the same
canonicalisation) without importing the test package.
"""

from __future__ import annotations

import pandas as pd


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name and rows sorted by every value."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def frames_match(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows; otherwise why not."""
    a, b = canonicalize(actual), canonicalize(expected)
    if len(a) != len(b):
        return f"row count {len(a)} vs {len(b)}"
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return str(exc).splitlines()[0] if str(exc) else "values differ"
    return None


def oracle_error(actual: pd.DataFrame, sql: str, data_dir: str, tables) -> str | None:
    """Compare a query's collected output with its DuckDB oracle SQL run
    over the same parquet files (one view per table)."""
    import duckdb

    con = duckdb.connect()
    try:
        for table in tables:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{data_dir}/{table}.parquet'")
        expected = con.execute(sql).df()
    finally:
        con.close()
    return frames_match(actual, expected)


class Tally:
    """Operations attempted and failed. A failure is an operation that
    raised, or whose output failed its check; a check made after the timed
    passes marks every execution of the operation it covers."""

    def __init__(self) -> None:
        self.records: list[list] = []  # [operation name, error or None]

    def record(self, op: str, error: str | None = None) -> None:
        self.records.append([op, error])

    def fail(self, op: str, error: str) -> None:
        for rec in self.records:
            if rec[0] == op and rec[1] is None:
                rec[1] = error

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for _, err in self.records if err is not None)

    def errors(self) -> dict[str, str]:
        return {op: err for op, err in self.records if err is not None}

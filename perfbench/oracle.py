"""Order-insensitive result comparison, and DuckDB runs of registered oracles.

Both sides are reduced to the same canonical form: columns sorted by name,
rows sorted by every column, integers as nullable ints. Floats compare
within 1e-12 relative, like the repository's own oracle check.
"""

from __future__ import annotations

import math

import pandas as pd

_REL_TOL = 1e-12


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s) or (
            s.dtype == object and len(s.dropna()) and isinstance(s.dropna().iloc[0], int)
        ):
            df[c] = s.astype("Int64")
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _equal(a, b) -> bool:
    a_na, b_na = a is None or a is pd.NA, b is None or b is pd.NA
    if isinstance(a, float) and math.isnan(a):
        a_na = True
    if isinstance(b, float) and math.isnan(b):
        b_na = True
    if a_na or b_na:
        return a_na and b_na
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=_REL_TOL, abs_tol=1e-12)
    return a == b


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatch descriptions; empty when the two frames hold the same rows."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows, oracle has {len(want)}"]
    errors = []
    for c in got.columns:
        bad = [
            (i, g, w)
            for i, (g, w) in enumerate(zip(got[c].tolist(), want[c].tolist()))
            if not _equal(g, w)
        ]
        if bad:
            errors.append(f"column {c!r} differs at {len(bad)} rows, first {bad[:3]}")
    return errors


def run_oracle(sql: str, sf_dir: str, tables) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()

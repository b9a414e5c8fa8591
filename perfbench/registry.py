"""The registry queries the traced runs time per family, and the
DuckDB oracle comparison their results must pass.

The list is declared here, not taken from the engine's registry order,
so a registry split or reordering does not move the benchmark. A name
listed here that the registry no longer has counts as a failed check.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

FAMILIES = {
    "codec": ["sprintz_roundtrip"],
    "streaming": ["stream_rollup_1m"],
    "retention": ["rollup_1h_cascade"],
    "text": ["exact_dup_docs"],
    "similarity": ["ivf_topk"],
    "analytics": ["ohlc_1h"],
    "tpch": ["pricing_summary"],
    "multimodal": ["image_features"],
}


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Order- and dtype-insensitive form used for the comparison: columns
    sorted by name, numeric strings parsed, timestamps at µs, floats
    rounded to 6 places, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare_with_oracle(got: pd.DataFrame, oracle_sql: str | None, table_dir: str):
    """(ok, detail): the query's rows against its oracle SQL run by DuckDB
    over the same parquet tables."""
    if oracle_sql is None:
        return False, "no oracle declared"
    con = duckdb.connect()
    try:
        for name in os.listdir(table_dir):
            if name.endswith(".parquet"):
                path = os.path.join(table_dir, name)
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
        want = _norm(con.sql(oracle_sql).df())
    finally:
        con.close()
    got = _norm(got)
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)
    except AssertionError as e:
        return False, str(e).splitlines()[0]
    return True, f"{len(got)} rows"

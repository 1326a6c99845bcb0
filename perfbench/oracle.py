"""Order-insensitive result comparison against DuckDB recomputations."""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd


def canon_hash(df: pd.DataFrame) -> str:
    """Hash of a frame that ignores row and column order: columns sorted by
    name, every cell rendered with ``astype(str)`` (the repository's own
    parity gate, so floats must match bit for bit), rows sorted by that
    rendering. Column names are part of the hash."""
    df = df.reindex(sorted(df.columns), axis=1)
    text = df.astype(str)
    rows = sorted("\x1f".join(r) for r in text.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return h.hexdigest()


def same(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    if canon_hash(got) != canon_hash(want):
        return False, "value hash differs"
    return True, ""


def duck(scratch_tmp: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB that spills (if ever) inside the run's scratch, on
    two threads so the check stays light beside the live Spark session."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{scratch_tmp}'")
    con.execute("SET threads=2")
    return con

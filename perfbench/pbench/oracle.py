"""Correctness against the registry's DuckDB oracles.

:func:`canon` is the canonical result hash of ``tools/check_correctness.py``
(row count, sorted column names, order-insensitive value hash with exact
float reprs). It is repeated here so that an edit to that tool cannot
change what the benchmark accepts; ``perfbench/tests`` checks that the two
still agree.
"""

from __future__ import annotations

import hashlib
import os

import duckdb


def canon(df) -> tuple[int, list[str], str]:
    """(row_count, sorted column names, order-insensitive value hash)."""
    import pandas as pd

    pdf = df if isinstance(df, pd.DataFrame) else df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for tup in pdf.itertuples(index=False, name=None):
        cells = []
        for v in tup:
            if v is None or (isinstance(v, float) and v != v):
                cells.append("\\N")
            elif isinstance(v, float):
                cells.append(repr(v))  # exact repr: bit-identical or bust
            else:
                cells.append(str(v))
        rows.append("\x1f".join(cells))
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(pdf), cols, h


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per input table, named as the
    oracle SQL expects."""
    con = duckdb.connect()
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            path = os.path.join(sf_dir, fname).replace("'", "''")
            con.execute(
                f"CREATE VIEW {fname[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def oracle_canon(con: duckdb.DuckDBPyConnection, sql: str):
    return canon(con.execute(sql).fetchdf())

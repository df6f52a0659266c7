"""Seeded benchmark inputs.

The base tables under ``perfbench/basedata/sf0.01`` are a copy of the
engine's sf0.01 star schema. A run never reads them through Spark: it
rewrites each one into its own input directory with pyarrow, and the seed
picks the row order and the row-group split of every file. Row values
and the stored parquet types (for example the ``TIMESTAMP`` unit of
``events.ts``) are carried over unchanged, so every oracle result is the
same for every seed while the physical layout the engine reads differs.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

BASE_DIR = Path(__file__).resolve().parents[1] / "basedata" / "sf0.01"


def base_tables(base_dir: Path = BASE_DIR) -> list[str]:
    """Table names present in the base data, sorted."""
    return sorted(p.stem for p in Path(base_dir).glob("*.parquet"))


def write_inputs(out_dir: str | os.PathLike, seed: int,
                 base_dir: Path | None = None) -> dict[str, dict]:
    """Write every table of ``base_dir`` (default: the committed sf0.01
    copy) to ``out_dir/<name>.parquet`` in a seed-chosen row order split
    into 1-4 seed-chosen row groups.

    Returns ``{table: {"rows", "row_groups", "first_row"}}`` — the layout
    the seed produced, for logs and tests."""
    base_dir = Path(base_dir or BASE_DIR)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    layout = {}
    for name in base_tables(base_dir):
        src = pq.ParquetFile(base_dir / f"{name}.parquet")
        table = src.read()
        n = table.num_rows
        table = table.take(rng.permutation(n))
        groups = int(rng.integers(1, 5))
        codec = src.metadata.row_group(0).column(0).compression.lower()
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, -(-n // groups)),
            compression=codec,
        )
        layout[name] = {
            "rows": n,
            "row_groups": groups,
            "first_row": table.slice(0, 1).to_pylist()[0] if n else None,
        }
    return layout

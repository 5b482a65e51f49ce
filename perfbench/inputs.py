"""Benchmark inputs: the engine's sf0.01 test tables, rows permuted by seed.

``data/sf0.01`` holds the ten parquet files of the engine's sf0.01 test
data (one file and one row group per table), byte for byte. A run
rewrites each table with its rows permuted by ``--seed`` and nothing
else changed: the same rows, column names and physical parquet types.
So a registered query's result must not depend on the seed, and its
DuckDB oracle reads exactly the files Spark reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def write_inputs(out_dir: str, seed: int) -> int:
    """Write every table, rows permuted by ``seed``, as
    ``out_dir/<table>.parquet``; return the total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for i, name in enumerate(TABLES):
        tab = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        order = np.random.default_rng([seed, i]).permutation(tab.num_rows)
        pq.write_table(tab.take(pa.array(order)), os.path.join(out_dir, f"{name}.parquet"))
        rows += tab.num_rows
    return rows

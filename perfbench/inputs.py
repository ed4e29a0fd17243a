"""Seeded input tables for the benchmark.

``fixtures/`` holds the engine's sf0.1 ``customer`` (15 000 rows) and
``documents`` (5 000 rows) fixture tables, values unchanged, recompressed
with zstd. Each run writes a seeded row sample of each as one parquet file:
the same seed writes the same rows, and the engine only ever sees the
finished files.

A document sample keeps every document together with its copies: rows
whose text is equal once a trailing `` dup`` marker is dropped are drawn
as one unit. So a sample has the near-duplicate rate of the whole table
(5%), and the dedup steps find as much to remove as on the full table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
ROWS = {"customer": 3000, "documents": 1000}
DUP_MARKER = " dup"


def _customer_rows(table, rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.choice(table.num_rows, n, replace=False)


def _document_rows(table, rng: np.random.Generator, n: int) -> np.ndarray:
    families: dict[str, list[int]] = {}
    for i, text in enumerate(table.column("text").to_pylist()):
        families.setdefault(text.removesuffix(DUP_MARKER), []).append(i)
    groups = list(families.values())
    rows: list[int] = []
    for g in rng.permutation(len(groups)):
        if len(rows) + len(groups[g]) <= n:  # singletons fill up to exactly n
            rows += groups[g]
        if len(rows) == n:
            break
    return np.array(rows)


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for name, pick in (("customer", _customer_rows), ("documents", _document_rows)):
        table = pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))
        sample = table.take(np.sort(pick(table, rng, ROWS[name])))
        pq.write_table(sample, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = sample.num_rows
    return counts

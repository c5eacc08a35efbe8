"""Seeded benchmark inputs.

The committed tables under ``perfbench/data/sf<sf>/`` are the seed-0
inputs, byte for byte. Every other seed writes the same rows in a
seeded row permutation, one parquet file per table as in the source,
into the benchmark's work area. A seed's tables are written once and
reused by later runs; the program only ever sees the generated
directory.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_ROOT = os.path.join(HERE, "data")

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def source_dir(sf: str) -> str:
    return os.path.join(SOURCE_ROOT, f"sf{sf}")


def permutation(n_rows: int, seed: int, table: str) -> np.ndarray:
    """Row order of ``table`` under ``seed``: the identity for seed 0,
    otherwise a permutation drawn from (seed, table name)."""
    if seed == 0:
        return np.arange(n_rows)
    rng = np.random.default_rng([seed, zlib.crc32(table.encode())])
    return rng.permutation(n_rows)


def prepare(seed: int, sf: str, work_dir: str) -> str:
    """Return the directory holding the tables for ``seed`` at ``sf``,
    writing it first if this seed has not been generated yet."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    src = source_dir(sf)
    if seed == 0:
        return src
    out = os.path.join(work_dir, "data", f"seed{seed}", f"sf{sf}")
    if os.path.isdir(out):
        return out
    import pyarrow.parquet as pq

    tmp = f"{out}.partial.{os.getpid()}"
    os.makedirs(tmp)
    try:
        for table in TABLES:
            path = os.path.join(src, f"{table}.parquet")
            meta = pq.ParquetFile(path).metadata
            rows = pq.read_table(path)
            rows = rows.take(permutation(rows.num_rows, seed, table))
            pq.write_table(
                rows,
                os.path.join(tmp, f"{table}.parquet"),
                compression="snappy",
                version=meta.format_version,
                row_group_size=max(rows.num_rows, 1),
            )
        os.makedirs(os.path.dirname(out), exist_ok=True)
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return out

"""Seeded RMAT edge tables, written once per run as parquet.

The engine only ever sees the files, which are made here in numpy, not
with the engine's own generator. The same seed gives the same files.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# R-MAT quadrant probabilities (Chakrabarti et al., SDM'04; Graph500 values).
RMAT_A, RMAT_B, RMAT_C = 0.57, 0.19, 0.19
EDGE_FACTOR = 16


def rmat_arcs(scale: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """2^scale · EDGE_FACTOR R-MAT draws → deduplicated arcs without
    self-loops. Vertex ids are scrambled by a seeded permutation so that
    id order says nothing about degree."""
    rng = np.random.default_rng(seed)
    m = (1 << scale) * EDGE_FACTOR
    src = np.zeros(m, dtype=np.int64)
    dst = np.zeros(m, dtype=np.int64)
    ab, abc = RMAT_A + RMAT_B, RMAT_A + RMAT_B + RMAT_C
    for _ in range(scale):
        r = rng.random(m)
        src = (src << 1) | (r >= ab)
        dst = (dst << 1) | (((r >= RMAT_A) & (r < ab)) | (r >= abc))
    perm = rng.permutation(1 << scale)
    src, dst = perm[src], perm[dst]
    keep = src != dst
    key = np.unique((src[keep] << scale) | dst[keep])
    return key >> scale, key & ((1 << scale) - 1)


def undirected_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Each undirected edge once as (low id, high id)."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    pairs = np.unique(np.stack([lo, hi], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def write_edges(path: str, src: np.ndarray, dst: np.ndarray) -> None:
    pq.write_table(pa.table({"src": src, "dst": dst}), path)


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) of an edge table on disk; `path` may be a directory of
    parquet files such as a bucketed table."""
    t = pq.read_table(path, columns=["src", "dst"])
    return t.column("src").to_numpy(), t.column("dst").to_numpy()

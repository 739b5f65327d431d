"""Seeded synthetic single-cell embedding for the harmony workloads.

Cells come from a few cell types (a Gaussian blob each, with uneven
type proportions), every batch adds its own shift, and isotropic noise
goes on top. Batch sizes are imbalanced. The data is generated in
fixed-size blocks of cell ids, each block from its own seeded generator,
so Spark can build it distributed (one ``mapInPandas`` task per group of
blocks, no N-sized array on the driver) and NumPy can rebuild exactly the
same matrix for the single-node reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

BLOCK = 10_000
N_TYPES = 8
TYPE_WEIGHTS = np.array([0.25, 0.2, 0.15, 0.12, 0.1, 0.08, 0.06, 0.04])
BATCH_WEIGHTS = np.array([0.4, 0.3, 0.2, 0.1])
SCHEMA = "cell_id long, features array<float>, batch string"


def _model(seed: int, dims: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng([seed, 0xCE11])
    centers = rng.normal(0.0, 2.0, size=(N_TYPES, dims)).astype(np.float32)
    shifts = rng.normal(0.0, 1.5, size=(len(BATCH_WEIGHTS), dims)).astype(np.float32)
    return centers, shifts


def block(seed: int, dims: int, n_cells: int, b: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cells ``[b*BLOCK, min((b+1)*BLOCK, n_cells))``: (ids, Z float32, batch codes)."""
    centers, shifts = _model(seed, dims)
    lo, hi = b * BLOCK, min((b + 1) * BLOCK, n_cells)
    rng = np.random.default_rng([seed, b])
    types = rng.choice(N_TYPES, size=hi - lo, p=TYPE_WEIGHTS)
    batch = rng.choice(len(BATCH_WEIGHTS), size=hi - lo, p=BATCH_WEIGHTS)
    noise = rng.normal(0.0, 0.8, size=(hi - lo, dims)).astype(np.float32)
    Z = centers[types] + shifts[batch] + noise
    return np.arange(lo, hi, dtype=np.int64), Z.astype(np.float32), batch


def n_blocks(n_cells: int) -> int:
    return -(-n_cells // BLOCK)


def numpy_cells(seed: int, dims: int, n_cells: int) -> tuple[np.ndarray, np.ndarray]:
    """The whole matrix in cell-id order: (Z (N, d) float32, batch codes (N,))."""
    parts = [block(seed, dims, n_cells, b) for b in range(n_blocks(n_cells))]
    return np.concatenate([p[1] for p in parts]), np.concatenate([p[2] for p in parts])


def spark_cells(spark, seed: int, dims: int, n_cells: int):
    """The same cells as a DataFrame ``(cell_id, features, batch)``."""
    nb = n_blocks(n_cells)

    def gen(frames):
        for pdf in frames:
            for b in pdf["id"].tolist():
                ids, Z, batch = block(seed, dims, n_cells, int(b))
                yield pd.DataFrame(
                    {
                        "cell_id": ids,
                        "features": list(Z),
                        "batch": [f"b{c}" for c in batch],
                    }
                )

    parts = min(nb, spark.sparkContext.defaultParallelism)
    return spark.range(0, nb, 1, parts).mapInPandas(gen, schema=SCHEMA)

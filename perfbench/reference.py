"""Single-node NumPy harmony on the benchmark's cells, compared with a
Spark fit's corrected embedding.

Run as its own process so BLAS can be pinned to one thread before NumPy
loads:

    python3 -m perfbench.reference <request.json>

The request names the generator arguments, the harmony parameters, the
ids of the cells the Spark fit sampled for its centroid init, and an
``.npy`` file holding the Spark ``z_corr`` in cell-id order. Prints one
JSON line: the reference fit time, the largest deviation and whether
every element is within tolerance.
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np

from harmony_spark.core import numpy_ref
from harmony_spark.core.kmeans import kmeans_centers
from harmony_spark.core.params import resolve_params
from perfbench.cells import numpy_cells

RTOL = ATOL = 3e-3  # the repository's Spark-vs-NumPy cross-oracle tolerance


def main(path: str) -> None:
    with open(path) as f:
        req = json.load(f)
    Z, batch = numpy_cells(req["seed"], req["dims"], req["n_cells"])
    counts = np.bincount(batch)
    hp = req["params"]
    p = resolve_params(
        N=Z.shape[0],
        d=Z.shape[1],
        vars_use=["batch"],
        level_counts={"batch": [(f"b{i}", int(c)) for i, c in enumerate(counts)]},
        **hp,
    )
    # The Spark fit seeds its centroids from a hash sample of the cells
    # (all of them when N is under its sample cap); start the reference
    # from the same sample so both run the same iteration.
    sample = np.load(req["sample_ids"])
    Zs = Z[sample] / np.maximum(np.linalg.norm(Z[sample], axis=1, keepdims=True), 1e-12)
    Y0 = kmeans_centers(Zs.astype(Z.dtype), p.K, p.seed)
    numpy_ref.kmeans_centers = lambda X, K, seed: Y0

    t0 = time.perf_counter()
    h = numpy_ref.run_harmony_numpy(Z, batch[:, None], p, mode="batch")
    fit_s = time.perf_counter() - t0

    spark_z = np.load(req["z_corr"])
    ref = h.Z_corr
    dev = np.abs(spark_z - ref) - RTOL * np.abs(ref)
    print(
        json.dumps(
            {
                "fit_s": fit_s,
                "ok": bool(spark_z.shape == ref.shape and np.all(dev <= ATOL)),
                "max_abs_err": float(np.max(np.abs(spark_z - ref))),
                "checksum": float(ref.astype(np.float64).sum()),
                "tolerance": float(np.sum(ATOL + RTOL * np.abs(ref.astype(np.float64)))),
            }
        )
    )


if __name__ == "__main__":
    main(sys.argv[1])

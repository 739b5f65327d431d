"""Seeded k-means++ + Lloyd refinement on a sample of the cells.

Port of kmeans_centers (/root/reference/src/utils.cpp:10-64): kmeans++
weighted-reservoir seeding (prob = -log(u)/dist, argmin) followed by 10
Lloyd iterations keeping existing centroids. The reference runs this over
ALL cells single-node; at 100 TB the engine runs it over a deterministic
sample (standard scalable init — the subsequent harmony rounds refine Y
anyway via the ridge intercepts, src/harmony.cpp:610).

NumPy, seeded, shared by the Spark driver, the fused fit pass and the
NumPy cross-oracle so every side starts from identical centroids.
"""

from __future__ import annotations

import numpy as np


def kmeans_plusplus(X: np.ndarray, K: int, rng: np.random.Generator) -> np.ndarray:
    """X: (n, d) L2-normalized rows. Returns (K, d) seed centroids.

    Mirrors initialize_centroids (src/utils.cpp:10-49): start from K
    random picks, then for i in 0..K-1 replace centroid i by the
    exponential-race argmin against centroid i's distances.
    """
    n = X.shape[0]
    idx0 = np.floor(rng.random(K) * (n - 1)).astype(int)
    Y = X[idx0].copy()
    chosen: set[int] = set()
    for i in range(K):
        dist = np.abs(2.0 * (1.0 - X @ Y[i]))  # cosine-squared distance
        u = rng.random(n)
        with np.errstate(divide="ignore"):
            prob = -np.log(u) / np.maximum(dist, 1e-12)
        # the smallest prob not chosen yet; the full ordering is needed
        # only when the argmin was already taken
        pick = int(np.argmin(prob))
        if pick in chosen:
            order = np.argsort(prob)
            j = 0
            while pick in chosen and j + 1 < n:
                j += 1
                pick = int(order[j])
        chosen.add(pick)
        Y[i] = X[pick]
    return Y


def lloyd(X: np.ndarray, Y: np.ndarray, iters: int = 10) -> np.ndarray:
    """Plain Lloyd iterations keeping existing centroids (src/utils.cpp:52-64)."""
    K = Y.shape[0]
    for _ in range(iters):
        # cosine-squared distance via the cross-product trick, formed
        # in the GEMM's buffer: 2(1 - X Yᵀ)
        d = X @ Y.T
        np.subtract(1.0, d, out=d)
        d *= 2.0
        assign = np.argmin(d, axis=1)
        # one stable sort groups each cluster's rows contiguously, in row
        # order: each mean sums the rows a boolean mask would select, in
        # the same order, without K full-length masks per iteration
        order = np.argsort(assign, kind="stable")
        Xs = X[order]
        bounds = np.searchsorted(assign[order], np.arange(K + 1))
        for k in range(K):
            lo, hi = bounds[k], bounds[k + 1]
            if hi > lo:
                Y[k] = Xs[lo:hi].mean(axis=0)
    return Y


def init_sample_rows(
    ids: np.ndarray, hashes: np.ndarray | None, cap: int
) -> np.ndarray:
    """The default init's sample as row indices into ``ids``, in cell_id
    order: every row when there are at most ``cap``, else the ``cap``
    rows of smallest ``hashes`` (xxhash64(cell_id)).  The fused fit pass
    applies this rule; ``HarmonySpark._init_Y`` is its Spark mirror
    (``orderBy(xxhash64("cell_id")).limit(cap)``, sorted by cell_id), so
    a change here must change it too."""
    rows = np.arange(len(ids))
    if len(ids) > cap:
        rows = np.argsort(hashes, kind="stable")[:cap]
    return rows[np.argsort(ids[rows], kind="stable")]


def init_centers(Z: np.ndarray, K: int, seed: int) -> np.ndarray:
    """The default harmony init: raw (n, d) sample rows in cell_id order
    -> (d, K) seed centroids.  The one seeding of both strategies (the
    driver's sample and the fused fit pass)."""
    Zn = Z / np.maximum(np.linalg.norm(Z, axis=1, keepdims=True), 1e-12)
    return kmeans_centers(Zn, K, seed)


def kmeans_centers(X: np.ndarray, K: int, seed: int) -> np.ndarray:
    """(n, d) rows -> (d, K) centroid matrix, L2-normalized columns."""
    rng = np.random.default_rng(seed)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    Y = kmeans_plusplus(Xn, K, rng)
    Y = lloyd(Xn, Y, iters=10)
    Yn = Y / np.maximum(np.linalg.norm(Y, axis=1, keepdims=True), 1e-12)
    from harmony_spark.core.scalars import SCALAR
    return Yn.T.astype(SCALAR)

"""Property-based tests (hypothesis) for the NumPy kernel math shared by
the Spark engine and the cross-oracle — fast, no SparkSession."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from harmony_spark.core import kernels
from harmony_spark.core.kmeans import kmeans_centers, kmeans_plusplus, lloyd
from harmony_spark.core.params import resolve_params

finite_f32 = st.floats(-50, 50, width=32, allow_nan=False)


@settings(max_examples=50, deadline=None)
@given(
    dist=arrays(np.float32, (7, 4), elements=st.floats(0, 4, width=32)),
    sigma=arrays(np.float32, (4,), elements=st.floats(0.0625, 2, width=32)),
    sigma0=st.floats(0.0625, 2, width=32),
)
def test_soft_assign_row_stochastic(dist, sigma, sigma0):
    R = kernels._soft_assign(dist, sigma)
    assert (R >= 0).all() and (R <= 1 + 1e-6).all()
    np.testing.assert_allclose(R.sum(axis=1), 1.0, atol=1e-5)
    # with a CONSTANT sigma, smaller distance -> no smaller probability
    # (with per-cluster sigma this is intentionally false — the
    # reference's vector-sigma semantics, src/harmony.cpp:143-146)
    Rc = kernels._soft_assign(dist, np.full(4, sigma0, dtype=np.float32))
    for i in range(dist.shape[0]):
        order_d = np.argsort(dist[i], kind="stable")
        r_sorted = Rc[i][order_d]
        assert (np.diff(r_sorted) <= 1e-6).all()


@settings(max_examples=30, deadline=None)
@given(
    z=arrays(np.float32, (6, 5), elements=finite_f32),
    R=arrays(np.float32, (6, 3), elements=st.floats(0, 1, width=32)),
)
def test_correction_with_zero_W_is_identity(z, R):
    gcodes = np.zeros((6, 1), dtype=np.int64)
    W = np.zeros((3, 2, 5), dtype=np.float32)
    out = kernels._correction(z, R, gcodes, W)
    np.testing.assert_allclose(out, z, atol=1e-6)


@settings(max_examples=20, deadline=None)
@given(
    z=arrays(np.float32, (6, 5), elements=finite_f32),
    R=arrays(np.float32, (6, 3), elements=st.floats(0, 1, width=32)),
    W=arrays(np.float32, (3, 2, 5), elements=st.floats(-2, 2, width=32)),
    codes=arrays(np.int64, (6, 1), elements=st.integers(0, 1)),
)
def test_correction_matches_naive_loop(z, R, W, codes):
    out = kernels._correction(z, R, codes, W)
    naive = z.astype(np.float64).copy()
    for i in range(z.shape[0]):
        for k in range(R.shape[1]):
            naive[i] -= R[i, k] * W[k, codes[i, 0]]
    np.testing.assert_allclose(out, naive.astype(np.float32), atol=1e-3)


@settings(max_examples=10, deadline=None)
@given(
    X=arrays(np.float32, (40, 6), elements=st.floats(-10, 10, width=32)),
    K=st.integers(2, 6),
)
def test_kmeans_centers_unit_norm(X, K):
    # degenerate all-zero rows would make norms meaningless
    X = X + np.linspace(0.1, 1.0, 6)[None, :].astype(np.float32)
    Y = kmeans_centers(X, K, seed=3)
    assert Y.shape == (6, K)
    np.testing.assert_allclose(np.linalg.norm(Y, axis=0), 1.0, atol=1e-4)


def _kmeans_plusplus_sorted(X, K, rng):
    """kmeans_plusplus as a full argsort walk per centroid (its former
    body): the exact result the argmin shortcut must keep."""
    n = X.shape[0]
    idx0 = np.floor(rng.random(K) * (n - 1)).astype(int)
    Y = X[idx0].copy()
    chosen: set[int] = set()
    for i in range(K):
        dist = np.abs(2.0 * (1.0 - X @ Y[i]))
        u = rng.random(n)
        with np.errstate(divide="ignore"):
            prob = -np.log(u) / np.maximum(dist, 1e-12)
        order = np.argsort(prob)
        j = 0
        pick = int(order[j])
        while pick in chosen and j + 1 < n:
            j += 1
            pick = int(order[j])
        chosen.add(pick)
        Y[i] = X[pick]
    return Y


def _lloyd_masked(X, Y, iters=10):
    """lloyd with one boolean mask per cluster (its former body): the
    exact result the sort-grouped means must keep."""
    for _ in range(iters):
        d = 2.0 * (1.0 - X @ Y.T)
        assign = np.argmin(d, axis=1)
        for k in range(Y.shape[0]):
            members = X[assign == k]
            if len(members):
                Y[k] = members.mean(axis=0)
    return Y


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_kmeans_matches_literal_loops(data):
    """The argmin k-means++ pick and the sort-grouped Lloyd means are
    bit-identical to the literal loops: duplicate rows, K up to n, and a
    duplicated centroid (whose cluster stays empty: argmin keeps the
    first of two equal distances)."""
    n = data.draw(st.integers(2, 30), label="n")
    d = data.draw(st.integers(1, 5), label="d")
    base = data.draw(arrays(np.float32, (n, d), elements=finite_f32), label="base")
    rows = data.draw(arrays(np.int64, (n,), elements=st.integers(0, n - 1)), label="rows")
    X = base[rows]  # repeated picks are duplicate rows
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    K = data.draw(st.integers(max(1, n - 3), n), label="K")
    seed = data.draw(st.integers(0, 2**32 - 1), label="seed")
    Y = kmeans_plusplus(X, K, np.random.default_rng(seed))
    np.testing.assert_array_equal(Y, _kmeans_plusplus_sorted(X, K, np.random.default_rng(seed)))
    if K > 1:
        Y[-1] = Y[0]
    np.testing.assert_array_equal(lloyd(X, Y.copy()), _lloyd_masked(X, Y.copy()))


def test_lloyd_large_clusters_keep_row_order():
    """Clusters of hundreds of rows: a float32 mean depends on the order
    of its rows, which only a stable sort keeps equal to the masks'."""
    for seed in range(3):
        rng = np.random.default_rng(seed)
        X = rng.normal(size=(600, 5)).astype(np.float32)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        Y = kmeans_plusplus(X, 4, np.random.default_rng(seed))
        np.testing.assert_array_equal(lloyd(X, Y.copy()), _lloyd_masked(X, Y.copy()))


@settings(max_examples=30, deadline=None)
@given(
    counts=st.lists(st.integers(1, 1000), min_size=2, max_size=5),
    theta=st.floats(0, 5),
    tau=st.floats(0, 10),
)
def test_param_expansion_shapes(counts, theta, tau):
    from harmony_spark.core.params import HarmonyOptions

    N = sum(counts)
    if N < 6:
        return
    p = resolve_params(
        N=N,
        d=4,
        vars_use=["b"],
        level_counts={"b": [(f"l{i}", c) for i, c in enumerate(counts)]},
        theta=theta,
        lamb=2.0,
        nclust=5,
        options=HarmonyOptions(tau=tau),
    )
    B = len(counts)
    assert p.theta.shape == (B,)
    assert p.lamb.shape == (B + 1,) and p.lamb[0] == 0
    assert p.Pr_b.shape == (B,)
    np.testing.assert_allclose(p.Pr_b.sum(), 1.0, atol=1e-5)
    # tau damping only ever shrinks theta
    assert (p.theta <= theta + 1e-6).all()


# two covariates with 4 + 3 levels: global codes 0..3 and 4..6; level 3
# of the first covariate never occurs in these batches
B_VEC, OFFSETS = (4, 3), (0, 4)


def _gcodes(c0, c1):
    return np.column_stack([c0, c1]).astype(np.int64) + np.asarray(OFFSETS)


@settings(max_examples=40, deadline=None)
@given(
    R=arrays(np.float32, (9, 3), elements=st.floats(0, 1, width=32)),
    dist=arrays(np.float32, (9, 3), elements=st.floats(0, 4, width=32)),
    c0=arrays(np.int64, (9,), elements=st.integers(0, 2)),
    c1=arrays(np.int64, (9,), elements=st.integers(0, 2)),
    blocks=arrays(np.int64, (9,), elements=st.integers(0, 1)),
)
def test_partial_acc_matches_masked_sums(R, dist, c0, c1, blocks):
    """One-hot O, in-place R·logR and R·dist equal per-level masked sums,
    per online block; block 2 gets no cells and stays zero."""
    g = _gcodes(c0, c1)
    acc = kernels._PartialAcc(3, sum(B_VEC), n_blocks=3)
    acc.add(R, dist, g, blocks=blocks)
    R64 = R.astype(np.float64)
    rlogr = np.where(R64 > 0, R64 * np.log(np.maximum(R64, 1e-30)), 0.0)
    for i in range(3):
        sel = blocks == i
        O = np.zeros((3, sum(B_VEC)))
        for c in range(2):
            for b in range(OFFSETS[c], OFFSETS[c] + B_VEC[c]):
                O[:, b] = R64[sel & (g[:, c] == b)].sum(axis=0)
        np.testing.assert_array_equal(acc.O[i], O)
        np.testing.assert_allclose(acc.rlogr[i], rlogr[sel].sum(axis=0), rtol=1e-12, atol=0)
        np.testing.assert_allclose(acc.rdist[i], (R64 * dist)[sel].sum(), rtol=1e-12, atol=0)
    assert not acc.O[2].any() and not acc.O[:, :, 3].any()


@settings(max_examples=40, deadline=None)
@given(
    zn=arrays(np.float32, (8, 4), elements=st.floats(-1, 1, width=32)),
    Y=arrays(np.float32, (4, 3), elements=st.floats(-1, 1, width=32)),
    sigma=arrays(np.float32, (3,), elements=st.floats(0.0625, 2, width=32)),
    O=arrays(np.float32, (3, 7), elements=st.floats(0, 20, width=32)),
    E=arrays(np.float32, (3, 7), elements=st.floats(0, 20, width=32)),
    theta=arrays(np.float32, (7,), elements=st.floats(0, 3, width=32)),
    c0=arrays(np.int64, (8,), elements=st.integers(0, 3)),
    c1=arrays(np.int64, (8,), elements=st.integers(0, 2)),
)
def test_apply_state_penalty_matches_column_gather(zn, Y, sigma, O, E, theta, c0, c1):
    """The row-gathered penalty gives the literal pen[:, g].T sum over
    both covariates, bit for bit."""
    g = _gcodes(c0, c1)
    st_ = {"Y": Y, "sigma": sigma, "O": O, "E": E, "theta": theta, "penalty": True}
    R, dist = kernels._apply_state(zn, g, st_)
    ref_dist = 2.0 * (1.0 - zn @ Y)
    ref = np.exp(-ref_dist / sigma[None, :])
    ref = ref / np.maximum(ref.sum(axis=1, keepdims=True), 1e-30)
    pen = ((2.0 * E + 1.0) / (O + E + 1.0)) ** theta[None, :]
    mult = np.zeros_like(ref)
    for c in range(2):
        mult += pen[:, g[:, c]].T
    ref = ref * mult
    ref /= np.maximum(ref.sum(axis=1, keepdims=True), 1e-30)
    np.testing.assert_array_equal(dist, ref_dist)
    np.testing.assert_array_equal(R, ref)


@settings(max_examples=40, deadline=None)
@given(
    zn=arrays(np.float32, (10, 4), elements=st.floats(-1, 1, width=32)),
    z=arrays(np.float64, (10, 4), elements=st.floats(-5, 5)),
    c0=arrays(np.int64, (8,), elements=st.integers(0, 1)),
    c1=arrays(np.int64, (8,), elements=st.integers(0, 2)),
)
def test_moe_accumulate_matches_per_tuple_loop(zn, z, c0, c1):
    """Combo sums keyed by the mixed-radix key equal a loop over the
    distinct code tuples.  The first two cells are (0, 2) and (1, 0): a
    key with radix 2 (the first covariate's level count) would merge
    them."""
    codes = np.column_stack([np.r_[0, 1, c0], np.r_[2, 0, c1]]).astype(np.int64)
    g = codes + np.asarray(OFFSETS)
    st_ = {"Y": np.eye(4, 3, dtype=np.float32), "sigma": np.full(3, 0.5, np.float32), "penalty": False}
    acc: dict = {}
    kernels._moe_accumulate(acc, z, zn, g, codes, st_, np.arange(10))
    R64 = kernels.recompute_R(zn, g, st_)[0].astype(np.float64)
    tuples = sorted({tuple(int(x) for x in row) for row in codes})
    assert list(acc) == tuples
    for t in tuples:
        ii = [i for i in range(10) if tuple(codes[i]) == t]
        np.testing.assert_allclose(acc[t][0], R64[ii].sum(axis=0), rtol=1e-12, atol=0)
        np.testing.assert_allclose(acc[t][1], R64[ii].T @ z[ii], rtol=1e-12, atol=0)


def test_moe_combo_key_does_not_overflow():
    """Three covariates with int32-sized codes: folded without re-ranking,
    the key would need ~93 bits and wrap in int64."""
    big = 2**31 - 2
    codes = np.array([[big, 0, big], [0, big, big], [big, 0, big], [0, 0, 0], [big, big, 0]])
    zn = np.eye(5, 4, dtype=np.float32) + 0.5
    z = np.arange(20, dtype=np.float64).reshape(5, 4)
    st_ = {"Y": np.eye(4, 3, dtype=np.float32), "sigma": np.full(3, 0.5, np.float32), "penalty": False}
    acc: dict = {}
    kernels._moe_accumulate(acc, z, zn, codes, codes, st_, np.arange(5))
    R64 = kernels.recompute_R(zn, codes, st_)[0].astype(np.float64)
    assert list(acc) == sorted({tuple(int(x) for x in row) for row in codes})
    np.testing.assert_array_equal(acc[(big, 0, big)][0], R64[[0, 2]].sum(axis=0))
    np.testing.assert_array_equal(acc[(big, 0, big)][1], R64[[0, 2]].T @ z[[0, 2]])

"""Harmony core tests (SURVEY.md §5 port strategy):

1. Cross-oracle: the Spark engine and the reference-faithful NumPy
   implementation (batch-EM mode) must agree to float32 tolerance on
   identical seeds/fixtures — this pins the Spark kernels to the
   reference math (substitute for golden files, which the reference
   itself cannot produce due to RNG).
2. Invariant/metamorphic tests ported from the reference testthat suite
   (/root/reference/tests/testthat/test_integration.R,
   test_two_variable.R): shapes, column-stochastic R, finite output,
   theta-diversity effect, error paths.
3. Blocked-vs-batch E-step: both modes of the NumPy oracle satisfy the
   same invariants (documents the SURVEY §7.5 trade-off).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from harmony_spark.core.numpy_ref import HarmonyNumpy, run_harmony_numpy
from harmony_spark.core.params import HarmonyOptions, resolve_params


# ---------------------------------------------------------------- fixtures


def make_fixture(n=300, d=20, seed=0):
    """cells_small-like fixture (FIXTURES.md §1, mirroring the
    cell_lines mixture design /root/reference/vignettes/quickstart.Rmd:41-48):
    2 cell types; 3 datasets where 'jurkat'(0) has only type 0,
    't293'(1) only type 1, and 'half'(2) both; each dataset adds a
    batch-effect shift that harmony should remove."""
    rng = np.random.default_rng(seed)
    type_centers = rng.normal(0, 2.0, size=(2, d))
    batch_shift = rng.normal(0, 1.5, size=(3, d))
    blob = rng.integers(0, 2, size=n)  # cell type
    in_half = rng.random(n) < 0.34
    batch = np.where(in_half, 2, blob)  # 0=jurkat, 1=t293, 2=half
    Z = type_centers[blob] + batch_shift[batch] + rng.normal(0, 0.8, size=(n, d))
    sigma_scale = np.linspace(1.0, 0.4, d)
    Z = (Z * sigma_scale).astype(np.float32)
    return Z, blob, batch


def resolve(Z, codes_1d, n_levels, **kw):
    n = Z.shape[0]
    counts = np.bincount(codes_1d, minlength=n_levels)
    level_counts = {"batch": [(f"b{i}", int(c)) for i, c in enumerate(counts)]}
    defaults = dict(theta=1.0, sigma=0.1, lamb=1.0, nclust=20, max_iter=5, seed=7)
    defaults.update(kw)
    return resolve_params(
        N=n, d=Z.shape[1], vars_use=["batch"], level_counts=level_counts, **defaults
    )


def chi2_OB(O, E):
    """Cluster-batch dependence: sum (O-E)^2 / E (theta-effect metric,
    test_integration.R:29-41)."""
    return float((((O - E) ** 2) / np.maximum(E, 1e-12)).sum())


# ---------------------------------------------------------------- numpy oracle


@pytest.mark.parametrize("mode", ["blocked", "batch"])
def test_numpy_invariants(mode):
    Z, blob, batch = make_fixture()
    p = resolve(Z, batch, 3)
    h = run_harmony_numpy(Z, batch[:, None], p, mode=mode)

    assert h.Y.shape == (p.d, p.K)
    assert h.Z_corr.shape == (p.N, p.d)
    assert h.R.shape == (p.N, p.K)
    # R column-stochastic (test_integration.R:16-20)
    assert (h.R >= 0).all() and (h.R <= 1).all()
    np.testing.assert_allclose(h.R.sum(axis=1), 1.0, atol=1e-4)
    # output finite (test_integration.R:22-26)
    assert np.isfinite(h.Z_corr).all()
    # objective recorded per E-step
    assert len(h.objective_kmeans) >= 2


@pytest.mark.parametrize("mode", ["blocked", "batch"])
def test_numpy_theta_effect(mode):
    """Higher theta => lower cluster/batch chi^2 (the core diversity
    semantic, test_integration.R:29-41)."""
    Z, blob, batch = make_fixture(n=400)
    p0 = resolve(Z, batch, 3, theta=0.0, nclust=10, max_iter=2)
    p1 = resolve(Z, batch, 3, theta=2.0, nclust=10, max_iter=2)
    h0 = run_harmony_numpy(Z, batch[:, None], p0, mode=mode)
    h1 = run_harmony_numpy(Z, batch[:, None], p1, mode=mode)
    assert chi2_OB(h1.O, h1.E) < chi2_OB(h0.O, h0.E)


def test_numpy_two_covariates():
    """Two-covariate run (test_two_variable.R): O/E columns = sum of
    levels across covariates."""
    Z, blob, batch = make_fixture(n=500)
    cell_type = (blob >= 1).astype(int)  # 2 levels
    codes = np.stack([cell_type, batch], axis=1)
    counts_ct = np.bincount(cell_type, minlength=2)
    counts_b = np.bincount(batch, minlength=3)
    p = resolve_params(
        N=Z.shape[0],
        d=Z.shape[1],
        vars_use=["cell_type", "batch"],
        level_counts={
            "cell_type": [(f"t{i}", int(c)) for i, c in enumerate(counts_ct)],
            "batch": [(f"b{i}", int(c)) for i, c in enumerate(counts_b)],
        },
        theta=[1.0, 1.0],
        sigma=0.1,
        lamb=1.0,
        nclust=20,
        max_iter=3,
        seed=7,
    )
    h = run_harmony_numpy(Z, codes, p, mode="batch")
    assert h.O.shape == (p.K, 5)
    assert np.isfinite(h.Z_corr).all()
    np.testing.assert_allclose(h.R.sum(axis=1), 1.0, atol=1e-4)


def test_param_errors():
    """Error paths (test_integration.R:43-56 + R/ui.R validations)."""
    Z, blob, batch = make_fixture(n=50)
    with pytest.raises(ValueError, match="lambdas must be positive"):
        resolve(Z, batch, 3, lamb=-1.0)
    with pytest.raises(ValueError, match="theta for each variable"):
        resolve(Z, batch, 3, theta=[1.0, 2.0])
    with pytest.raises(ValueError, match="less than 6 cells"):
        resolve_params(
            N=5, d=3, vars_use=["b"], level_counts={"b": [("x", 5)]}, nclust=2
        )


def test_objective_nonincreasing_rounds():
    """Harmony-level objective must not increase across rounds
    (convergence trace check, R/utils.R:50-81)."""
    Z, blob, batch = make_fixture(n=400)
    p = resolve(Z, batch, 3, theta=1.0, nclust=15, max_iter=5)
    h = run_harmony_numpy(Z, batch[:, None], p, mode="batch")
    tr = h.objective_harmony
    assert all(tr[i + 1] <= tr[i] * 1.001 for i in range(len(tr) - 1)), tr


# ---------------------------------------------------------------- spark engine


@pytest.fixture(scope="module")
def spark_fixture_df(spark):
    Z, blob, batch = make_fixture(n=300)
    rows = [
        (int(i), [float(x) for x in Z[i]], f"b{batch[i]}", f"t{int(blob[i] >= 1)}")
        for i in range(Z.shape[0])
    ]
    df = spark.createDataFrame(rows, "cell_id long, features array<float>, batch string, cell_type string")
    return df, Z, blob, batch


def test_spark_matches_numpy_oracle(spark, spark_fixture_df):
    """The cross-oracle gate: identical seeds/fixture -> Z_corr allclose."""
    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, blob, batch = spark_fixture_df
    model = HarmonySpark(
        df,
        ["batch"],
        id_col="cell_id",
        theta=1.0,
        sigma=0.1,
        lamb=1.0,
        nclust=20,
        max_iter=3,
        seed=7,
    )
    out = model.run().orderBy("cell_id").collect()
    Zs = np.stack([r["z_corr"] for r in out])

    p = resolve(Z, batch, 3, theta=1.0, nclust=20, max_iter=3, seed=7)
    # oracle gets cells in cell_id order (same as the Spark init sample)
    h = run_harmony_numpy(Z, batch[:, None], p, mode="batch")

    assert Zs.shape == h.Z_corr.shape
    np.testing.assert_allclose(
        np.asarray(model.objective_kmeans),
        np.asarray(h.objective_kmeans),
        rtol=2e-3,
    )
    np.testing.assert_allclose(Zs, h.Z_corr, rtol=2e-3, atol=2e-3)


def test_spark_invariants_two_covariates(spark, spark_fixture_df):
    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, blob, batch = spark_fixture_df
    model = HarmonySpark(
        df,
        ["cell_type", "batch"],
        id_col="cell_id",
        theta=[1.0, 1.0],
        sigma=0.1,
        lamb=None,  # auto-lambda path (M8)
        nclust=15,
        max_iter=2,
        seed=7,
    )
    res = model.run()
    out = res.orderBy("cell_id").collect()
    Zs = np.stack([r["z_corr"] for r in out])
    assert Zs.shape == Z.shape
    assert np.isfinite(Zs).all()
    assert model.O.shape == (15, 5)
    # theta-effect on the Spark engine
    model0 = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=0.0, sigma=0.1, lamb=1.0,
        nclust=10, max_iter=2, seed=7,
    )
    model0.run().count()
    model2 = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=2.0, sigma=0.1, lamb=1.0,
        nclust=10, max_iter=2, seed=7,
    )
    model2.run().count()
    assert chi2_OB(model2.O, model2.E) < chi2_OB(model0.O, model0.E)


def test_trace_and_sink(spark, spark_fixture_df, tmp_path):
    """C7 convergence trace + S3/S4 sink equivalent (save + per-dim sd)
    + the round-4 additions: export_convergence artifacts
    (HarmonyConvergencePlot equivalent, R/utils.R:50-81) and the
    ProjectDim loadings sink (R/RunHarmony.R:113-119)."""
    from harmony_spark.core.algorithm import (
        HarmonySpark,
        export_convergence,
        project_dim,
        save_embedding,
    )

    df, Z, blob, batch = spark_fixture_df
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=10, max_iter=2, seed=7,
    )
    result = model.run()
    trace = model.convergence_trace()
    trace_rows = trace.collect()
    assert len(trace_rows) == len(model.objective_kmeans)
    assert trace_rows[0]["harmony_round"] == 0

    # convergence-plot export: CSV matches the trace rows exactly,
    # SVG exists and draws one polyline per harmony round
    csv_path, svg_path = export_convergence(trace, str(tmp_path / "trace"))
    lines = open(csv_path).read().strip().splitlines()
    assert lines[0] == "harmony_round,kmeans_step,objective"
    assert len(lines) - 1 == len(trace_rows)
    got = {tuple(ln.split(",")[:2]) for ln in lines[1:]}
    assert got == {
        (str(r["harmony_round"]), str(r["kmeans_step"])) for r in trace_rows
    }
    svg = open(svg_path).read()
    assert svg.startswith("<svg") and "polyline" in svg

    feats = df.select("cell_id", F.col("features").alias("feature"))
    sd = save_embedding(
        result, str(tmp_path / "emb.parquet"), project_features=feats
    ).collect()
    assert len(sd) == Z.shape[1]
    assert all(r["stdev"] > 0 for r in sd)
    back = spark.read.parquet(str(tmp_path / "emb.parquet"))
    assert back.count() == Z.shape[0]

    # ProjectDim: loadings parquet is G x d and matches a NumPy matmul
    import numpy as np

    loads = spark.read.parquet(str(tmp_path / "emb.parquet_loadings"))
    d = Z.shape[1]
    assert loads.count() == d * d  # features = the input dims here
    zc = np.array(
        [r["z_corr"] for r in result.orderBy("cell_id").collect()]
    )
    expect = Z.T @ zc  # G x d
    got_l = {(r["g"], r["k"]): r["loading"] for r in loads.collect()}
    for g in range(d):
        for k in range(d):
            assert abs(got_l[(g, k)] - expect[g, k]) < 1e-2 * max(
                1.0, abs(expect[g, k])
            )


def test_model_getters_and_mllib_init(spark, spark_fixture_df):
    """Reference getter parity (getR/getY/getO/getE,
    src/harmony.cpp:672-709) + the distributed MLlib KMeans init path."""
    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, blob, batch = spark_fixture_df
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=8, max_iter=1, seed=7, init_method="mllib",
    )
    model.run().count()
    Y = model.get_Y()
    assert Y.shape == (Z.shape[1], 8)
    np.testing.assert_allclose(np.linalg.norm(Y, axis=0), 1.0, atol=1e-4)
    O, E = model.get_O(), model.get_E()
    assert O.shape == E.shape == (8, 3)
    # O and E both resolve to the same per-batch masses overall
    np.testing.assert_allclose(O.sum(), E.sum(), rtol=1e-3)
    R = model.get_R().orderBy("cell_id").collect()
    Rm = np.stack([r["r"] for r in R])
    assert Rm.shape == (Z.shape[0], 8)
    np.testing.assert_allclose(Rm.sum(axis=1), 1.0, atol=1e-4)
    # R must be consistent with O: aggregate by batch and compare
    O_check = np.zeros_like(O)
    for i, b in enumerate(batch):
        O_check[:, b] += Rm[i]
    np.testing.assert_allclose(O_check, O, atol=2e-2)


def test_spark_matches_numpy_oracle_two_covariates(spark, spark_fixture_df):
    """Cross-oracle allclose with TWO covariates: exercises the stacked
    one-hot design, cross-covariate Gram terms, and per-covariate C5
    filtering against the NumPy reference."""
    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, blob, batch = spark_fixture_df
    cell_type = (blob >= 1).astype(int)
    model = HarmonySpark(
        df,
        ["cell_type", "batch"],
        id_col="cell_id",
        theta=[1.0, 1.0],
        sigma=0.1,
        lamb=1.0,
        nclust=12,
        max_iter=3,
        seed=7,
    )
    out = model.run().orderBy("cell_id").collect()
    Zs = np.stack([r["z_corr"] for r in out])

    codes = np.stack([cell_type, batch], axis=1)
    counts_ct = np.bincount(cell_type, minlength=2)
    counts_b = np.bincount(batch, minlength=3)
    p = resolve_params(
        N=Z.shape[0],
        d=Z.shape[1],
        vars_use=["cell_type", "batch"],
        level_counts={
            "cell_type": [(f"t{i}", int(c)) for i, c in enumerate(counts_ct)],
            "batch": [(f"b{i}", int(c)) for i, c in enumerate(counts_b)],
        },
        theta=[1.0, 1.0],
        sigma=0.1,
        lamb=1.0,
        nclust=12,
        max_iter=3,
        seed=7,
    )
    h = run_harmony_numpy(Z, codes, p, mode="batch")
    np.testing.assert_allclose(
        np.asarray(model.objective_kmeans), np.asarray(h.objective_kmeans), rtol=2e-3
    )
    np.testing.assert_allclose(Zs, h.Z_corr, rtol=3e-3, atol=3e-3)


def test_blocked_local_parity_mode(spark, spark_fixture_df):
    """run_harmony(mode='blocked-local') = the reference's exact
    sequential-block semantics via the NumPy path, returned as a
    DataFrame."""
    from harmony_spark.core.algorithm import run_harmony

    df, Z, blob, batch = spark_fixture_df
    out = run_harmony(
        df, ["batch"], mode="blocked-local", id_col="cell_id",
        theta=1.0, lamb=1.0, nclust=10, max_iter=2, seed=7,
    ).orderBy("cell_id").collect()
    Zs = np.stack([r["z_corr"] for r in out])
    assert Zs.shape == Z.shape and np.isfinite(Zs).all()

    p = resolve(Z, batch, 3, theta=1.0, nclust=10, max_iter=2, seed=7)
    h = run_harmony_numpy(Z, batch[:, None], p, mode="blocked")
    np.testing.assert_allclose(Zs, h.Z_corr, rtol=1e-4, atol=1e-4)


def test_spark_blocked_estep_matches_numpy(spark, spark_fixture_df):
    """Distributed online blocked E-step (C3) == the NumPy blocked-hash
    oracle, exactly: same arithmetic block assignment, same
    subtract/reassign/add-back sequence through shared O/E."""
    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, blob, batch = spark_fixture_df
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=15, max_iter=2, seed=7, estep_mode="blocked", n_blocks=5,
    )
    out = model.run().orderBy("cell_id").collect()
    Zs = np.stack([r["z_corr"] for r in out])

    from harmony_spark.core.params import HarmonyOptions
    p = resolve_params(
        N=Z.shape[0], d=Z.shape[1], vars_use=["batch"],
        level_counts={"batch": [(f"b{i}", int(c)) for i, c in enumerate(np.bincount(batch, minlength=3))]},
        theta=1.0, sigma=0.1, lamb=1.0, nclust=15, max_iter=2, seed=7,
        options=HarmonyOptions(block_size=0.2),  # 1/0.2 = 5 blocks
    )
    h = run_harmony_numpy(Z, batch[:, None], p, mode="blocked-hash")
    np.testing.assert_allclose(
        np.asarray(model.objective_kmeans), np.asarray(h.objective_kmeans), rtol=2e-3
    )
    np.testing.assert_allclose(Zs, h.Z_corr, rtol=3e-3, atol=3e-3)


def test_fused_kmeans_chain_matches_per_iteration_path(spark, spark_fixture_df):
    """The single-partition fused fit pass (ONE Arrow pass per harmony
    fit, kernels.make_fit_kernel, whose state row the driver assigns
    as-is) must reproduce the distributed per-iteration path EXACTLY —
    same O/E/Y/W, objective traces, iteration counts, final soft
    assignment and corrected embedding — because the Gauss-Seidel chain,
    the partial reductions and the objective live in shared helpers and
    a single partition implies a single Arrow batch (identical
    accumulation order).  Blocked mode with ONE block runs its E-steps
    over every cell, as the distributed path does."""
    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, blob, batch = spark_fixture_df
    for mode, nb in (("batch", None), ("blocked", 4), ("blocked", 1)):
        runs = []
        for force_distributed in (False, True):
            model = HarmonySpark(
                df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1,
                lamb=1.0, nclust=8, max_iter=2, seed=11,
                estep_mode=mode, n_blocks=nb,
            )
            assert model._cells_nparts == 1  # fixture is fused-eligible
            if force_distributed:
                model._cells_nparts = 2  # strategy switch only; data unchanged
            out = model.run().orderBy("cell_id").collect()
            R = model.get_R().orderBy("cell_id").collect()
            runs.append(
                {
                    "z_corr": np.stack([r["z_corr"] for r in out]),
                    "R": np.stack([r["r"] for r in R]),
                    "R_ids": [r["cell_id"] for r in R],
                    "O": model.get_O(),
                    "E": model.get_E(),
                    "Y": model.get_Y(),
                    "W_all": model.W_all,
                    "objective_kmeans": list(model.objective_kmeans),
                    "objective_harmony": list(model.objective_harmony),
                    "kmeans_rounds": list(model.kmeans_rounds),
                }
            )
            model.cleanup()
        fused, dist = runs
        for key in fused:
            if isinstance(fused[key], list):
                assert fused[key] == dist[key], (mode, nb, key)
            else:
                np.testing.assert_array_equal(
                    fused[key], dist[key], err_msg=f"{mode} {nb} {key}"
                )


@pytest.mark.parametrize("mode", ["batch", "blocked"])
def test_distributed_round_over_three_partitions_matches_numpy(
    spark, spark_fixture_df, monkeypatch, mode
):
    """The distributed strategy on 3 real partitions: every E-step and
    MoE job returns one partial row per partition (per block), and
    run_round's reductions of those rows must still match the NumPy
    oracle at the single-partition tests' tolerances."""
    from pyspark import StorageLevel

    from harmony_spark.core import kernels
    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, blob, batch = spark_fixture_df
    blocked = mode == "blocked"
    nclust, max_iter = (15, 2) if blocked else (20, 3)
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=nclust, max_iter=max_iter, seed=7, estep_mode=mode,
        n_blocks=(5 if blocked else None),
    )
    one_part = model.cells0
    model.cells0 = one_part.repartition(3).persist(StorageLevel.MEMORY_AND_DISK)
    one_part.unpersist()
    model._cells_nparts = 3
    assert model.cells0.rdd.getNumPartitions() == 3

    estep_rows, moe_rows = [], []
    real_round, real_add = kernels.run_round, kernels.add_combo

    def spy_round(st, cold_parts, estep_parts, moe_combos):
        def counted(state, block):
            rows = estep_parts(state, block)
            estep_rows.append(len(rows))
            return rows

        return real_round(st, cold_parts, counted, moe_combos)

    def spy_add(acc, *args):
        moe_rows.append(1)
        return real_add(acc, *args)

    monkeypatch.setattr(kernels, "run_round", spy_round)
    monkeypatch.setattr(kernels, "add_combo", spy_add)
    out = model.run().orderBy("cell_id").collect()
    model.cleanup()
    Zs = np.stack([r["z_corr"] for r in out])
    assert estep_rows and min(estep_rows) == 3
    # one MoE row per (partition, batch level) per round
    assert len(moe_rows) == 3 * 3 * len(model.kmeans_rounds)

    p = resolve(
        Z, batch, 3, theta=1.0, nclust=nclust, max_iter=max_iter, seed=7,
        options=HarmonyOptions(block_size=0.2) if blocked else None,
    )
    h = run_harmony_numpy(Z, batch[:, None], p, mode="blocked-hash" if blocked else "batch")
    np.testing.assert_allclose(
        np.asarray(model.objective_kmeans), np.asarray(h.objective_kmeans), rtol=2e-3
    )
    tol = 3e-3 if blocked else 2e-3
    np.testing.assert_allclose(Zs, h.Z_corr, rtol=tol, atol=tol)


@pytest.mark.parametrize("path", ["fused", "distributed"])
@pytest.mark.parametrize("bad", ["short", "null"])
def test_ragged_or_null_embeddings_raise(spark, spark_fixture_df, path, bad):
    """Embeddings are read as one flat buffer reshaped to (n, d), so a
    single short or NULL row would shift every later row.  The fit must
    refuse such input with an error naming the column: a ValueError
    from the driver's init sample (distributed path) or from the fused
    fit, whose pass reads the embeddings first; inside a distributed
    kernel when a warm start skips the sample."""
    from pyspark.errors import PythonException

    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, *_ = spark_fixture_df
    d = Z.shape[1]
    broken = (
        F.slice("features", 1, d - 1) if bad == "short"
        else F.lit(None).cast("array<float>")
    )
    df_bad = df.withColumn(
        "features", F.when(F.col("cell_id") == 17, broken).otherwise(F.col("features"))
    )
    for init_Y in (None, np.eye(d, 6, dtype=np.float32)):
        model = HarmonySpark(
            df_bad, ["batch"], id_col="cell_id", nclust=6, max_iter=1,
            lamb=1.0, seed=3, init_Y=init_Y,
        )
        if path == "distributed":
            model._cells_nparts = 2  # strategy switch only; data unchanged
        # in a distributed kernel the ValueError reaches the driver inside
        # Spark's PythonException, whose message carries the worker traceback
        in_kernel = init_Y is not None and path == "distributed"
        with pytest.raises(
            PythonException if in_kernel else ValueError,
            match="column 'z_orig' holds NULL or ragged arrays",
        ):
            model.run().count()
        model.cleanup()


@pytest.mark.parametrize("path", ["fused", "distributed"])
def test_no_checkpoint_after_last_round(spark, spark_fixture_df, monkeypatch, path):
    """Lineage is truncated only between rounds: with early stop off, a
    distributed max_iter-round fit takes exactly max_iter - 1
    localCheckpoints, and the fused fit (one pass, no lineage between
    rounds) takes none."""
    from harmony_spark.core.algorithm import HarmonySpark

    df, *_ = spark_fixture_df
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=6, max_iter=3, early_stop=False, seed=5,
    )
    if path == "distributed":
        model._cells_nparts = 2
    cls = type(model.cells0)
    real = cls.localCheckpoint
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    assert model.run().count() == df.count()
    model.cleanup()
    assert len(model.kmeans_rounds) == 3
    assert len(calls) == (2 if path == "distributed" else 0)


def test_fused_fit_is_one_pass(spark, spark_fixture_df):
    """Below the fuse gate a whole fit — the default init's seeding,
    every round and the final correction — is ONE Spark job: run()
    submits exactly the fit pass, whose collect of the state row also
    fills the cache the returned frame reads.  With ``init_Y`` no seed
    is computed; without it the pass seeds from its own cached cells,
    so no init sample is collected either."""
    from harmony_spark.core.algorithm import HarmonySpark

    df, Z, *_ = spark_fixture_df
    n = df.count()
    sc = spark.sparkContext
    for warm_start in (True, False):
        model = HarmonySpark(
            df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
            nclust=6, max_iter=3, early_stop=False, seed=5,
            init_Y=np.eye(Z.shape[1], 6, dtype=np.float32) if warm_start else None,
        )
        assert model._cells_nparts == 1
        group = f"test-fused-fit-is-one-pass-{warm_start}"
        sc.setJobGroup(group, "fused fit")
        try:
            out = model.run()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(jobs) == 1, (warm_start, jobs)
        assert len(model.kmeans_rounds) == 3
        assert out.count() == n
        model.cleanup()


@pytest.mark.parametrize("cap", [None, 200])
def test_fused_fit_seeds_from_the_driver_sample(spark, spark_fixture_df, monkeypatch, cap):
    """The fit pass's own seeding equals ``init_centers`` over the sample
    the driver path takes (``_init_Y``), exactly: all cells in cell_id
    order when N <= cap, else the cap cells of smallest xxhash64(cell_id)
    (``orderBy(...).limit(cap)``; the cap reaches the kernel through the
    broadcast).  Pinned through the whole fit: a fit that the pass
    seeds equals one handed the driver's seed, float for float."""
    from harmony_spark.core import algorithm
    from harmony_spark.core.kmeans import init_centers

    df, Z, *_ = spark_fixture_df
    if cap is not None:
        monkeypatch.setattr(algorithm, "_INIT_SAMPLE_CAP", cap)
    fits = []
    for seed_in_pass in (True, False):
        model = algorithm.HarmonySpark(
            df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
            nclust=8, max_iter=2, early_stop=False, seed=11,
        )
        assert model._cells_nparts == 1
        if seed_in_pass:
            model.Y = None
        else:
            model._init_Y()  # the driver's sample and kmeans
            # the fixture's row i is cell i: every cell, or a capped sample
            assert np.array_equal(model.Y, init_centers(Z, 8, 11)) == (cap is None)
        _, fit = model._fused_fit(model.p, 1)
        model.cleanup()
        fits.append(fit)
    in_pass, driver = fits
    for key in ("Y", "W_all", "O", "E"):
        np.testing.assert_array_equal(in_pass[key], driver[key], err_msg=key)
    for key in ("objective_kmeans", "objective_harmony", "kmeans_rounds"):
        assert in_pass[key] == driver[key], key


def test_c5_support_filter_active_cross_oracle(spark, spark_fixture_df):
    """Force the batch-support filter (C5) to actually drop batches
    (aggressive cutoff) and verify Spark still matches the NumPy oracle
    — the subtle path where cells of dropped batches are excluded from
    both the regression and the correction."""
    from harmony_spark.core.algorithm import HarmonySpark
    from harmony_spark.core.params import HarmonyOptions

    df, Z, blob, batch = spark_fixture_df
    opts = HarmonyOptions(batch_prop_cutoff=0.15)
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=12, max_iter=2, seed=7, options=opts,
    )
    out = model.run().orderBy("cell_id").collect()
    Zs = np.stack([r["z_corr"] for r in out])

    p = resolve(Z, batch, 3, theta=1.0, nclust=12, max_iter=2, seed=7,
                options=HarmonyOptions(batch_prop_cutoff=0.15))
    h = run_harmony_numpy(Z, batch[:, None], p, mode="batch")
    # sanity: the cutoff actually dropped something somewhere
    avg_R = h.O / p.N_b[None, :]
    assert (avg_R <= 0.15).any(), "cutoff never fired; fixture too uniform"
    np.testing.assert_allclose(Zs, h.Z_corr, rtol=3e-3, atol=3e-3)


def test_theta_zero_is_neutral_penalty():
    """theta=0 makes the diversity multiplier constant per cell, so the
    batch E-step equals the penalty-free assignment exactly."""
    Z, blob, batch = make_fixture(n=200)
    p = resolve(Z, batch, 3, theta=0.0, nclust=8, max_iter=1)
    h = HarmonyNumpy(Z, batch[:, None], p, mode="batch")
    h.init_cluster()
    R_plain = h.R.copy()
    h._update_R_batch()
    np.testing.assert_allclose(h.R, R_plain, atol=1e-5)


def test_arrowhead_solve_matches_dense():
    """M7: the closed-form arrowhead solve must agree with the dense
    solver on random single-covariate MoE Gram systems (diag = counts +
    lambda, border = counts, corner = total mass), and refuse degenerate
    pivots with LinAlgError like the dense path."""
    from harmony_spark.core.kernels import arrowhead_solve

    rng = np.random.default_rng(11)
    for _ in range(25):
        B, d = int(rng.integers(2, 30)), int(rng.integers(1, 40))
        counts = rng.random(B) * 100
        lam = rng.random(B) * 5 + 1e-3
        G = np.zeros((B + 1, B + 1))
        G[0, 0] = counts.sum()
        G[0, 1:] = counts
        G[1:, 0] = counts
        G[np.arange(1, B + 1), np.arange(1, B + 1)] = counts + lam
        rhs = rng.standard_normal((B + 1, d))
        W_fast = arrowhead_solve(G, rhs)
        W_dense = np.linalg.solve(G, rhs)
        np.testing.assert_allclose(W_fast, W_dense, rtol=1e-9, atol=1e-9)

    bad = np.zeros((3, 3))  # zero diagonal -> degenerate
    with pytest.raises(np.linalg.LinAlgError):
        arrowhead_solve(bad, np.ones((3, 2)))


def test_matrix_api_orientation_inference(spark):
    """S1/S2 port: run_harmony_matrices accepts cells-as-rows OR
    cells-as-columns (dimension matched against metadata length) and a
    bare metadata vector."""
    from harmony_spark.api import run_harmony_matrices

    Z, blob, batch = make_fixture(n=120)
    meta = [f"b{b}" for b in batch]
    kw = dict(theta=1.0, lamb=1.0, nclust=6, max_iter=1, seed=3)
    out_rows = run_harmony_matrices(spark, Z, meta, **kw)
    out_cols = run_harmony_matrices(spark, Z.T, meta, **kw)
    assert out_rows.shape == Z.shape
    np.testing.assert_allclose(out_rows, out_cols, atol=1e-6)
    with pytest.raises(ValueError, match="number of labels"):
        run_harmony_matrices(spark, Z[:50], meta, **kw)
    # the driver-sized shim refuses oversized inputs up front (same 2M
    # ceiling as blocked-local mode) instead of OOMing mid-collect —
    # checked against a fake N without materializing 2M rows
    big = [f"b{i % 3}" for i in range(2_000_001)]
    with pytest.raises(ValueError, match="caps at 2M"):
        run_harmony_matrices(spark, Z, big, **kw)


def test_single_level_covariate_degenerates_gracefully(spark):
    """A covariate with ONE level carries no batch information: C5 finds
    <2 qualifying levels, every cluster's correction is skipped, and the
    output equals the input embedding (no crash, no NaNs)."""
    from harmony_spark.core.algorithm import HarmonySpark

    Z, blob, batch = make_fixture(n=80)
    rows = [(int(i), [float(x) for x in Z[i]], "only") for i in range(Z.shape[0])]
    df = spark.createDataFrame(rows, "cell_id long, features array<float>, batch string")
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, lamb=1.0,
        nclust=5, max_iter=1, seed=3,
    )
    out = model.run().orderBy("cell_id").collect()
    Zs = np.stack([r["z_corr"] for r in out])
    np.testing.assert_allclose(Zs, Z, atol=1e-5)


def test_counts_to_harmony_pipeline(spark, sf_dir):
    """Full reference user workflow on testdata: sparse counts -> scale
    (P2) -> MLlib PCA -> harmony. lineitem reinterpreted as a counts
    matrix (cell=order, gene=part), orders metadata as covariates."""
    from harmony_spark.core.pipeline import harmonize_expression
    from harmony_spark.io import table
    import pyspark.sql.functions as F

    coo = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("cell_id"),
        (F.dense_rank().over(__import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("l_partkey")) - 1).alias("gene_id"),
        F.col("l_quantity").alias("value"),
    )
    meta = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("cell_id"), F.col("o_orderpriority").alias("prio")
    )
    out = harmonize_expression(
        coo, meta, ["prio"], n_pcs=5, nclust=4, max_iter=1, lamb=1.0, seed=11
    )
    rows = out.collect()
    import numpy as np
    Z = np.stack([r["z_corr"] for r in rows])
    assert Z.shape[1] == 5
    assert Z.shape[0] == coo.select("cell_id").distinct().count()
    assert np.isfinite(Z).all()


def test_early_stop_toggle():
    """early_stop=False sets epsilon_harmony to -inf: the loop must run
    all max_iter rounds (R/ui.R:137-141); with early_stop=True on an
    immediately-converging fixture it stops sooner."""
    Z, blob, batch = make_fixture(n=200)
    p_off = resolve(Z, batch, 3, theta=1.0, nclust=8, max_iter=4, early_stop=False)
    h_off = run_harmony_numpy(Z, batch[:, None], p_off, mode="batch")
    assert len(h_off.kmeans_rounds) == 4  # never converges "early"

    p_on = resolve(Z, batch, 3, theta=1.0, nclust=8, max_iter=4, early_stop=True)
    h_on = run_harmony_numpy(Z, batch[:, None], p_on, mode="batch")
    assert len(h_on.kmeans_rounds) <= 4


def test_warm_start_matches_cold_quality(spark, sf_dir):
    """Incremental refit (extension; the reference is refit-only): when
    new cells arrive, init_Y=prev.get_Y() must reach the cold-fit
    objective within tolerance while skipping the init phase (no sample
    collect / kmeans job — the init cost that matters at 1e9 cells)."""
    import numpy as np
    import pyspark.sql.functions as F
    from harmony_spark.core.algorithm import HarmonySpark
    from harmony_spark.io import table

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.col("label").cast("string").alias("label")
    )
    kw = dict(
        features_col="embedding", id_col="vec_id",
        nclust=5, max_iter=10, lamb=1.0, seed=42,
    )
    prev = HarmonySpark(e.where(F.col("vec_id") % 5 != 0), ["label"], **kw)
    prev.run().count()

    cold = HarmonySpark(e, ["label"], **kw)
    cold.run().count()
    warm = HarmonySpark(e, ["label"], init_Y=prev.get_Y(), **kw)
    out = warm.run()
    assert out.count() == e.count()

    ratio = warm.objective_harmony[-1] / cold.objective_harmony[-1]
    assert 0.97 < ratio < 1.03, ratio
    # warm centroids remain unit-norm after the override
    np.testing.assert_allclose(
        np.linalg.norm(warm.get_Y(), axis=0), 1.0, atol=1e-5
    )

    with pytest.raises(ValueError, match="init_Y shape"):
        HarmonySpark(e, ["label"], init_Y=prev.get_Y()[:, :3], **kw)


def test_assign_and_transform_require_fitted_model(spark, sf_dir):
    import pyspark.sql.functions as F
    from harmony_spark.core.algorithm import HarmonySpark
    from harmony_spark.io import table

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.col("label").cast("string").alias("label")
    )
    m = HarmonySpark(
        e, ["label"], features_col="embedding", id_col="vec_id",
        nclust=5, max_iter=1, lamb=1.0,
    )
    for method in (m.assign, m.transform):
        with pytest.raises(RuntimeError, match="run\\(\\) must complete"):
            method(e, features_col="embedding", id_col="vec_id")
    m.cleanup()


def test_model_save_load_roundtrip(spark, spark_fixture_df, tmp_path):
    """save_model/load_model (the saveRDS-equivalent): the loaded model
    must transform/assign new cells identically to the live one and
    feed init_Y warm starts."""
    from harmony_spark.core.algorithm import HarmonySpark, load_model, save_model

    df, Z, blob, batch = spark_fixture_df
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=10, max_iter=2, seed=7,
    )
    model.run().count()
    path = str(tmp_path / "saved_model")
    save_model(model, path)
    loaded = load_model(spark, path)

    np.testing.assert_array_equal(model.get_Y(), loaded.get_Y())
    np.testing.assert_array_equal(model.get_O(), loaded.get_O())

    new = df.where(F.col("cell_id") % 7 == 0)
    live = {r["cell_id"]: r["z_corr"] for r in model.transform(new).collect()}
    froz = {r["cell_id"]: r["z_corr"] for r in loaded.transform(new).collect()}
    assert live.keys() == froz.keys()
    for cid in live:
        np.testing.assert_allclose(live[cid], froz[cid], rtol=1e-6, atol=1e-6)

    warm = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=10, max_iter=2, seed=7, init_Y=loaded.get_Y(),
    )
    warm.run().count()
    assert len(warm.objective_kmeans) > 0

    # unsupported calls on a loaded model hit the documented RuntimeError
    # guards, never AttributeError (the model.json lifecycle state is
    # restored; training cells are not)
    with pytest.raises(RuntimeError, match="run\\(\\) must complete"):
        loaded.get_R()
    with pytest.raises(RuntimeError, match="no training cells"):
        loaded.run()
    loaded.cleanup()  # no-op without training cells, must not raise
    assert loaded.estep_mode == model.estep_mode
    assert loaded.kmeans_rounds == model.kmeans_rounds
    assert loaded.objective_harmony == pytest.approx(model.objective_harmony)
    assert loaded.convergence_trace().count() == model.convergence_trace().count()


def test_load_model_refuses_precision_downcast(spark, spark_fixture_df, tmp_path, monkeypatch):
    """An f64-saved model must not silently downcast into an f32 session
    (the saved scalar_double flag is checked at load)."""
    import json

    from harmony_spark.core.algorithm import HarmonySpark, load_model, save_model

    df, *_ = spark_fixture_df
    model = HarmonySpark(
        df, ["batch"], id_col="cell_id", theta=1.0, sigma=0.1, lamb=1.0,
        nclust=5, max_iter=1, seed=7,
    )
    model.run().count()
    path = str(tmp_path / "saved_f64")
    save_model(model, path)
    # forge the flag instead of re-importing the engine under
    # HARMONY_SCALAR_DOUBLE=1 (scalars are bound at import time)
    meta = json.load(open(f"{path}/model.json"))
    meta["scalar_double"] = True
    json.dump(meta, open(f"{path}/model.json", "w"))
    with pytest.raises(ValueError, match="scalar_double"):
        load_model(spark, path)


@pytest.mark.parametrize("path", ["fused", "distributed"])
def test_progress_callback_and_abort(spark, sf_dir, path):
    """C6 progress/abort: the callback sees every round's objective, and
    returning False stops the fit after that round while still producing
    a full corrected embedding — on both strategies.  The fused fit
    replays the calls after its pass and reruns it to the aborted
    round, so its model equals a fit that stopped there."""
    from pyspark.sql import functions as F

    from harmony_spark.core.algorithm import HarmonySpark
    from harmony_spark.io import table

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", F.col("label").cast("string").alias("label")
    )

    def build(max_iter=4):
        model = HarmonySpark(
            e, ["label"], features_col="embedding", id_col="vec_id",
            nclust=3, max_iter=max_iter, lamb=1.0, sigma=0.1, seed=7,
            early_stop=False,  # every round runs, so an abort cuts the fit short
        )
        assert model._cells_nparts == 1  # fixture is fused-eligible
        if path == "distributed":
            model._cells_nparts = 2  # strategy switch only; data unchanged
        return model

    def z_corr(out):
        return np.stack([r["z_corr"] for r in out.orderBy("cell_id").collect()])

    seen = []
    m1 = build()
    n_cells = m1.run(progress=lambda i, obj: seen.append((i, obj))).count()
    m1.cleanup()
    assert len(seen) == 4
    assert [i for i, _ in seen] == list(range(len(seen)))
    assert all(obj > 0 for _, obj in seen)

    aborted = []
    m2 = build()
    out = m2.run(progress=lambda i, obj: aborted.append(i) or i < 0)  # False after round 0
    assert out.count() == n_cells  # abort still yields every cell corrected
    assert aborted == [0]  # loop stopped cooperatively after round 1
    assert len(m2.kmeans_rounds) == 1  # the model is the one-round fit
    if path == "fused":
        m3 = build(max_iter=1)
        np.testing.assert_array_equal(z_corr(out), z_corr(m3.run()))
        m3.cleanup()
    m2.cleanup()

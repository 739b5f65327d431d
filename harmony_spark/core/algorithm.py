"""The harmony algorithm as a Spark driver loop.

Architecture (SURVEY.md §3.4, §7): the cells live in a persisted
DataFrame ``(cell_id, z_orig ARRAY<FLOAT>, code_<i> INT, zn)``; all
O(K·B)/O(B³) state (Y, O, E, W, λ, θ, σ) lives on the driver as NumPy
and is broadcast each pass. The soft assignment R is NEVER materialized
— it is a pure function of (zn, Y, O_prev, E_prev), described by
``self._r_state`` and recomputed inside whichever kernel needs it. The
N-sized data never moves to the driver and never shuffles.

Per harmony round (reference lifecycle R/utils.R:15-46): a cold start
(src/harmony.cpp:214-228) — apply the previous correction, normalize
-> zn, penalty-free assignment and its O/E/objective partials — then
ONE round function, ``kernels.run_round``: the max_iter_cluster E-step
loop (:318-323; ``estep_mode="batch"`` is the full-batch fixed point,
``"blocked"`` the reference's online update (C3), one block at a time
through the shared O/E) and the MoE per-combo Gram/RHS sums
(:561-609). Then the C5 support filter (:350-402), λ auto (M8), K ridge
solves (M6) and the centroid update (M3) -> W_all for the next round
(``kernels.solve_moe``), and the harmony stop test (:173-205). That
loop is ``kernels.run_fit``, the one fit loop of both strategies;
``run`` picks one by partition count:
  distributed (several partitions, above FUSE_CELLS cells): run_fit
    runs on the driver; each round's cold start is the one row-writing
    job (its partials come back as rows with NULL cell_id), each E-step
    (each block in blocked mode) and the MoE sums are one
    aggregation-only job, and the final correction is one more pass.
  fused (single partition, ``_fused_fit``): run_fit runs inside ONE
    Arrow pass over the batches the kernel caches — the default
    ``sample`` init's kmeans seeding, every round and the final
    correction — which emits the corrected cell rows plus one state row
    holding run_fit's result. ``run`` is one Spark job.
Over one partition the two are bit-identical; ``run`` assigns the
run_fit result in one place. Both E-step modes are pinned to the NumPy
cross-oracle (numpy_ref.py) by allclose tests;
``run_harmony(mode="blocked-local")`` additionally offers the literal
RNG-shuffled reference semantics for single-node-sized data.
"""

from __future__ import annotations

import dataclasses
import pickle
import re
import sys

import numpy as np
from pyspark import StorageLevel
from pyspark.errors import PythonException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from harmony_spark.core import kernels
from harmony_spark.core.kmeans import init_centers
from harmony_spark.core.params import HarmonyOptions, ResolvedParams, resolve_params

from harmony_spark.core.scalars import SCALAR as F32, SPARK_SCALAR  # noqa: E402

_INIT_SAMPLE_CAP = 30_000  # cells in the kmeans init sample (init only)
FUSE_CELLS = 65_536  # at or below this many cells, one partition: one pass per round


class HarmonySpark:
    def __init__(
        self,
        df: DataFrame,
        vars_use: list[str],
        *,
        features_col: str = "features",
        id_col: str | None = None,
        theta=None,
        sigma=0.1,
        lamb=None,
        nclust: int | None = None,
        max_iter: int = 10,
        early_stop: bool = True,
        options: HarmonyOptions | None = None,
        seed: int = 42,
        init_method: str = "sample",
        estep_mode: str = "batch",
        n_blocks: int | None = None,
        init_Y: "np.ndarray | None" = None,
    ):
        if init_method not in ("sample", "mllib"):
            raise ValueError("init_method must be 'sample' or 'mllib'")
        if estep_mode not in ("batch", "blocked"):
            raise ValueError("estep_mode must be 'batch' or 'blocked'")
        self.init_method = init_method
        self._init_Y_arg = init_Y
        self.estep_mode = estep_mode
        self._n_blocks_arg = n_blocks
        self.spark: SparkSession = df.sparkSession
        self.vars_use = list(vars_use)
        self.code_cols = [f"code_{i}" for i in range(len(vars_use))]

        # ---- schema validation & cell ids (S2: R/ui.R:158-172) ----
        for v in vars_use:
            if v not in df.columns:
                raise ValueError(f"covariate {v!r} not in DataFrame columns")
        if id_col is None:
            df = df.withColumn("cell_id", F.monotonically_increasing_id())
            id_col = "cell_id"

        # ---- param resolution, ONE tiny aggregate (A1/A3) ----
        # the d-probe and every covariate's level census share one job:
        # explode the covariate values to (covariate_idx, level) keys and
        # aggregate once — one collect instead of 1 + len(vars_use)
        # (guide §1.2: remove whole passes; resolve_params sorts levels,
        # so collect order is immaterial)
        stats = (
            df.select(
                F.size(features_col).alias("__d"),
                F.posexplode(
                    F.array(
                        *[F.col(v).cast("string") for v in vars_use]
                    )
                ).alias("__ci", "__lvl"),
            )
            .groupBy("__ci", "__lvl")
            .agg(F.count("*").alias("count"), F.max("__d").alias("d"))
            .collect()
        )
        d = max(int(r["d"]) for r in stats)
        level_counts: dict[str, list[tuple[str, int]]] = {v: [] for v in vars_use}
        for r in stats:
            v = vars_use[r["__ci"]]
            if r["__lvl"] is None:
                raise ValueError(
                    f"covariate {v!r} contains NULLs; harmony requires a "
                    "level for every cell (drop or impute first)"
                )
            level_counts[v].append((r["__lvl"], r["count"]))
        N = sum(c for _, c in level_counts[vars_use[0]])
        self.p: ResolvedParams = resolve_params(
            N=N,
            d=d,
            vars_use=self.vars_use,
            level_counts=level_counts,
            theta=theta,
            sigma=sigma,
            lamb=lamb,
            nclust=nclust,
            max_iter=max_iter,
            early_stop=early_stop,
            options=options,
            seed=seed,
        )

        if init_Y is not None and np.shape(init_Y) != (self.p.d, self.p.K):
            raise ValueError(
                f"init_Y shape {np.shape(init_Y)} != (d={self.p.d}, K={self.p.K})"
            )

        # ---- encode covariate levels to codes (Phi never materialized) ----
        cells = df.select(
            F.col(id_col).cast("long").alias("cell_id"),
            F.col(features_col).cast(f"array<{SPARK_SCALAR}>").alias("z_orig"),
            *[
                self._level_code(v, i)
                for i, v in enumerate(self.vars_use)
            ],
        )
        # partition sizing: ~10k cells per task (matches the Arrow batch
        # size) so each distributed round's jobs (cold start, one per
        # E-step or block, MoE partials) schedule O(N/10k) tasks, not
        # O(shuffle.partitions) tiny ones; at 1e9 cells this is 100k
        # tasks/pass on a cluster, at N=500 it is one.
        target_parts = max(1, min(self.spark.sparkContext.defaultParallelism, -(-N // 10_000)))
        # at or below FUSE_CELLS, collapse to ONE partition: run() then
        # takes _fused_fit, the whole fit as one Arrow pass, instead of
        # _distributed_round's one job per iteration — at 32k cells the
        # per-job scheduler floor costs far more than the lost map
        # parallelism (a 64k-cell task is a few tens of MB / tens of ms
        # of vectorized numpy, guide §2.2: fewer, larger partitions; §4:
        # collapse tiny Python-worker round-trips). The collapse is a
        # coalesce, not a shuffle: with no exchange under the cache, AQE
        # fills it inside its first consumer's job, instead of running
        # the shuffle map stage and the cache fill as jobs of their own.
        # At 1e9 cells this branch never fires. repartition/mapInArrow/
        # localCheckpoint all preserve the partition count across rounds.
        if N <= FUSE_CELLS:
            target_parts = 1
            cells = cells.coalesce(1)
        else:
            cells = cells.repartition(target_parts)
        self._cells_nparts = target_parts
        # LAZY persist, and only where cells0 has more than one reader:
        # above the gate (the init sample collect, then the round-0 cold
        # start) or under mllib init (k-means|| rereads it).  Below the
        # gate with the sample init, the fit pass is its one reader, so a
        # cache would only be filled and dropped (the rerun after a
        # progress abort reads the input again).  Every first consumer
        # is a single-scan stage, so its one job fills the cache — the
        # former eager count() was a whole extra pass (guide §1.2)
        if target_parts > 1 or init_method == "mllib":
            cells = cells.persist(StorageLevel.MEMORY_AND_DISK)
        self.cells0 = cells
        self._persisted: DataFrame | None = None

        # driver state
        self.Y: np.ndarray | None = None  # (d, K)
        self.O = np.zeros((self.p.K, self.p.B), dtype=F32)
        self.E = np.zeros((self.p.K, self.p.B), dtype=F32)
        self.W_all: np.ndarray | None = None  # (K, B, d)
        self.objective_kmeans: list[float] = []
        self.objective_harmony: list[float] = []
        self.kmeans_rounds: list[int] = []
        # description of the current soft assignment R (never
        # materialized; recomputed inside kernels from this state)
        self._r_state: dict | None = None
        # online blocked mode: #blocks = ceil(1/block_size) like the
        # reference (src/harmony.cpp:277) unless overridden
        self.n_blocks = (
            self._n_blocks_arg
            if self._n_blocks_arg is not None
            else int(np.ceil(1.0 / self.p.block_size))
        )

    # ------------------------------------------------------------ helpers

    def _level_code(self, var: str, i: int):
        levels = self.p.levels[i]
        mapping = F.create_map(
            *[x for lvl, code in zip(levels, range(len(levels))) for x in (F.lit(lvl), F.lit(code))]
        )
        return mapping[F.col(var).cast("string")].cast("int").alias(f"code_{i}")

    def _broadcast(self, **arrays):
        return self.spark.sparkContext.broadcast(arrays)

    def _swap_persist(self, df: DataFrame) -> DataFrame:
        """Persist a round's (or the fused fit's) row-writing pass as
        the cache.  No eager count: the caller's next action (the
        filtered collect of the pass's non-cell rows) scans every
        partition, so the cache fills as a by-product."""
        # Deferred fill is only safe from a cold start: if _persisted
        # held an ancestor of df, retiring it before the filling action
        # would force that action to recompute the whole lineage.
        assert self._persisted is None, (
            "_swap_persist requires a cold start (_persisted must be None)"
        )
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted = df
        return df

    # ------------------------------------------------------------ passes
    #
    # R is never materialized: the current soft assignment is described
    # by `self._r_state` (Y, sigma [, theta, O, E]) and recomputed
    # inside whichever kernel needs it. Both strategies run the fit loop
    # kernels.run_fit. Distributed, each round's cold-start pass writes
    # the N-sized zn column and kernels.run_round runs over the cached
    # zn as Spark jobs; fused, the whole fit is one pass.

    def _distributed_round(self, source: DataFrame, st: dict) -> tuple[DataFrame, dict]:
        """One harmony round as separate jobs (multi-partition inputs),
        for the round state ``st`` that ``kernels.run_fit`` builds: the
        cold-start pass, then ``kernels.run_round`` with one aggregation
        job per E-step (per block in blocked mode) and one MoE partials
        job.  Returns (cells_with_zn, round state)."""
        p = self.p
        round_idx = st["round_idx"]
        kernel = kernels.make_cold_start_kernel(
            self._broadcast(**st), self.code_cols, p.offsets, p.K, p.B
        )
        # the partials collect filters AFTER the cache layer, so its one
        # job both fills the round's cache and returns the O/E partials
        codes = ", ".join(f"{c} int" for c in self.code_cols)
        schema = (
            f"cell_id long, z_orig array<{SPARK_SCALAR}>, {codes}, "
            f"zn array<{SPARK_SCALAR}>, {kernels.PARTIAL_SCHEMA}"
        )
        full = self._swap_persist(source.mapInArrow(kernel, schema=schema))
        cold_parts = (
            full.where(F.col("cell_id").isNull())
            .select("blk", "o", "rlogr", "rdist")
            .collect()
        )
        if round_idx == 0:
            # cells0 (its own z_orig copy) is only a source for init + the
            # round-0 pass; dropping it now halves the steady-state cache —
            # at 1e9 cells x 64 dims that is ~256 GB of cluster memory back.
            # (the cold start's collect filled the round cache, so nothing
            # recomputes through this lineage.)
            self.cells0.unpersist()
        cells = full.where(F.col("cell_id").isNotNull()).drop("blk", "o", "rlogr", "rdist")
        # blocked mode (C3): the round's cells split into n_blocks by the
        # arithmetic hash, fixed within a round (re-randomized across
        # rounds via the round index); the reference reshuffles every
        # E-step — same randomized block-coordinate-descent family
        block_expr = F.pmod(
            (F.col("cell_id") % kernels.BLOCK_P) * kernels.BLOCK_A
            + F.lit(round_idx * kernels.BLOCK_B),
            F.lit(st["nb"]),
        )

        def estep_parts(state: dict, block: int | None):
            kernel = kernels.make_estep_kernel(
                self._broadcast(**state), self.code_cols, p.offsets, p.K, p.B
            )
            src = cells if block is None else cells.where(block_expr == block)
            return (
                src.select("cell_id", "zn", *self.code_cols)
                .mapInArrow(kernel, schema=kernels.PARTIAL_SCHEMA)
                .collect()
            )

        state = kernels.run_round(
            st, cold_parts, estep_parts, lambda rs: self._moe_partials(cells, rs)
        )
        return cells, state

    def _fused_fit(self, p: ResolvedParams, nb: int) -> tuple[DataFrame, dict]:
        """The WHOLE fit under params ``p`` (``nb`` E-step blocks) as
        ONE Arrow pass (single-partition inputs only,
        kernels.make_fit_kernel): every round and the final correction
        over the batches the kernel caches.  With ``self.Y`` None the
        pass also seeds the centroids, from the init sample ``_init_Y``
        would take, picked by the ``seed_hash`` column it gets.  The
        pass is persisted and its one state row collected, so that one
        job fills the cache.  Returns (cells with zn and z_corr,
        ``kernels.run_fit`` result)."""
        kernel = kernels.make_fit_kernel(
            self._broadcast(
                p=p, Y=self.Y, mode=self.estep_mode, nb=nb, cap=_INIT_SAMPLE_CAP
            ),
            self.code_cols, p.offsets, p.K, p.B,
        )
        source = self.cells0
        if self.Y is None:
            source = source.withColumn("seed_hash", F.xxhash64("cell_id"))
        codes = ", ".join(f"{c} int" for c in self.code_cols)
        full = self._swap_persist(
            source.mapInArrow(
                kernel,
                schema=f"cell_id long, {codes}, zn array<{SPARK_SCALAR}>, "
                f"z_corr array<{SPARK_SCALAR}>, state binary",
            )
        )
        try:
            (row,) = full.where(F.col("cell_id").isNull()).select("state").collect()
        except PythonException as e:
            # the pass reads the embeddings (kernels._matrix): NULL or
            # ragged ones raise the ValueError the driver's sample raises
            bad = re.search(rf"column '[^']*' {re.escape(kernels.RAGGED)}", str(e))
            if bad is None:
                raise
            raise ValueError(bad.group(0)) from e
        cells = full.where(F.col("cell_id").isNotNull()).drop("state")
        return cells, pickle.loads(row["state"])

    def _moe_partials(self, cells: DataFrame, r_state: dict) -> dict[tuple, list]:
        """The MoE combo sums under ``r_state``: one job, its per-partition
        rows merged with ``kernels.add_combo``."""
        p = self.p
        bc = self._broadcast(**r_state)
        kernel = kernels.make_moe_partials_kernel(bc, self.code_cols, p.offsets, p.K, p.d)
        rows = cells.select("cell_id", "z_orig", "zn", *self.code_cols).mapInArrow(
            kernel, schema="combo array<long>, s array<double>, m array<double>"
        ).collect()
        acc: dict[tuple, list] = {}
        for row in rows:
            kernels.add_combo(
                acc, tuple(row["combo"]), np.asarray(row["s"]),
                np.asarray(row["m"]).reshape(p.K, p.d),
            )
        return acc

    # ------------------------------------------------------------ driver math

    def _init_Y(self) -> None:
        """Centroid init (M4/M5), two strategies:

        * ``sample`` (default): deterministic hash sample to the driver,
          seeded kmeans++/Lloyd in NumPy (shared with the cross-oracle).
          The reference clusters all N cells single-node
          (src/utils.cpp:52-64); subsequent rounds refine Y through the
          ridge intercept (M3) anyway.  Below the fuse gate ``run``
          skips this: the fit pass seeds from the same sample
          (``kernels.make_fit_kernel``), so no sample leaves the cells.
        * ``mllib``: distributed ml.clustering.KMeans (k-means||) over
          the L2-normalized cells — the fully-distributed path for when
          even a 30k sample under-represents the data.

        A caller-provided ``init_Y`` (warm start — typically
        ``prev_model.get_Y()`` when new cells arrive and the corpus is
        refit incrementally; the reference is refit-from-scratch-only)
        overrides both: no sample collect, no kmeans, the loop starts
        from the previous optimum and converges in fewer rounds.
        """
        p = self.p
        if self._init_Y_arg is not None:
            Y = np.asarray(self._init_Y_arg, dtype=F32)
            if Y.shape != (p.d, p.K):
                raise ValueError(
                    f"init_Y shape {Y.shape} != (d={p.d}, K={p.K})"
                )
            self.Y = Y / np.maximum(np.linalg.norm(Y, axis=0, keepdims=True), 1e-12)
            return
        if self.init_method == "mllib":
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector
            from pyspark.sql.functions import aggregate as agg_hof, lit, sqrt, transform as tf_hof

            norm = sqrt(
                agg_hof(
                    "z_orig",
                    lit(0.0).cast("double"),
                    lambda a, x: a + x.cast("double") * x.cast("double"),
                )
            )
            vecs = self.cells0.select(
                array_to_vector(
                    tf_hof("z_orig", lambda x: x.cast("double") / norm)
                ).alias("fv")
            )
            km = KMeans(k=p.K, maxIter=10, initMode="k-means||", seed=p.seed, featuresCol="fv")
            model = km.fit(vecs)
            Y = np.stack([np.asarray(c) for c in model.clusterCenters()]).astype(F32)
            Yn = Y / np.maximum(np.linalg.norm(Y, axis=1, keepdims=True), 1e-12)
            self.Y = Yn.T.copy()
            return
        # the Spark mirror of kmeans.init_sample_rows, the fused pass's
        # sample rule: a change here must change it too
        sample = self.cells0.select("cell_id", "z_orig")
        if p.N > _INIT_SAMPLE_CAP:
            sample = sample.orderBy(F.xxhash64("cell_id")).limit(_INIT_SAMPLE_CAP)
        # the seeding sees the sample in cell_id order; the driver holds
        # the sample anyway, so it sorts it instead of Spark
        Z = kernels._matrix(sample.toArrow().sort_by("cell_id"), "z_orig")
        self.Y = init_centers(Z, p.K, p.seed)  # (d, K), L2-normalized cols

    # ------------------------------------------------------------ lifecycle

    def run(self, verbose: bool = False, progress=None) -> DataFrame:
        """``progress``, if given, is called after every harmony round as
        ``progress(round_idx, objective) -> bool | None``; returning
        ``False`` aborts the fit cooperatively (the model keeps the
        rounds completed so far and still emits a corrected embedding) —
        the C6 progress/abort surface (the reference's progress bar +
        interrupt, R/ui.R:268-272, re-expressed as a callback since a
        driver script has no TTY).

        The callback runs live, between rounds, only above the fuse
        gate.  At or below it the whole fit is one Arrow pass, so the
        calls are replayed in order after the pass; an abort at round r
        of a fit that ran further reruns the pass with ``max_iter=r+1``
        (without calling ``progress`` again), which leaves the model a
        fit that stopped after round r."""
        if getattr(self, "cells0", None) is None:
            raise RuntimeError(
                "this model has no training cells (loaded via load_model?) — "
                "it supports transform()/assign()/get_Y(), not re-run()"
            )
        p = self.p
        nb = self.n_blocks if self.estep_mode == "blocked" else 1
        fused = self._cells_nparts == 1
        if fused and self.init_method == "sample" and self._init_Y_arg is None:
            self.Y = None  # the fit pass seeds from the init sample itself
        else:
            self._init_Y()

        def report(round_idx: int, objective: float):
            if verbose:
                # RunHarmony(verbose=TRUE) progress line (R/ui.R:268-272)
                print(
                    f"Harmony {round_idx + 1}/{p.max_iter}: objective {objective:.4f}",
                    file=sys.stderr,
                )
            if progress is not None:
                return progress(round_idx, objective)

        if fused:
            # single-partition inputs run the whole fit as ONE Arrow pass
            cells, fit = self._fused_fit(p, nb)
            round_objs = fit["objective_harmony"][1:]
            for round_idx, objective in enumerate(round_objs):
                if report(round_idx, objective) is False:
                    if round_idx + 1 < len(round_objs):
                        self._persisted.unpersist()
                        self._persisted = None
                        cells, fit = self._fused_fit(
                            dataclasses.replace(p, max_iter=round_idx + 1), nb
                        )
                    break
            self.cells0.unpersist()
        else:
            cells = self.cells0

            def round_fn(st: dict) -> dict:
                nonlocal cells
                if st["round_idx"] > 0:
                    # truncate lineage between rounds. localCheckpoint
                    # already stores the partitions (MEMORY_AND_DISK) —
                    # persisting on top would hold a SECOND full copy, so
                    # track the checkpoint directly; the checkpoint blocks
                    # are released by the ContextCleaner once this round's
                    # pass materializes and drops the reference.
                    cells = cells.localCheckpoint(eager=True)
                    self._persisted.unpersist()
                    self._persisted = None
                cells, state = self._distributed_round(cells, st)
                return state

            fit = kernels.run_fit(p, self.Y, self.estep_mode, nb, round_fn, on_round=report)

        self.Y, self.W_all, self.O, self.E = fit["Y"], fit["W_all"], fit["O"], fit["E"]
        self._r_state = fit["r_state"]
        self.objective_kmeans = fit["objective_kmeans"]
        self.objective_harmony = fit["objective_harmony"]
        self.kmeans_rounds = fit["kmeans_rounds"]
        self._cells_final = cells
        if fused:
            return cells.select("cell_id", *self.code_cols, "z_corr")
        # final correction materialization (M2)
        bc = self._broadcast(W_all=self.W_all, r_state=self._r_state)
        kernel = kernels.make_correct_kernel(bc, self.code_cols, p.offsets)
        codes = ", ".join(f"{c} int" for c in self.code_cols)
        return cells.mapInArrow(
            kernel, schema=f"cell_id long, {codes}, z_corr array<{SPARK_SCALAR}>"
        )

    def transform(self, df: DataFrame, features_col: str = "features", id_col: str = "cell_id") -> DataFrame:
        """Fold NEW cells into the fitted model (extension — the
        reference is strictly refit-only): assign each incoming cell
        against the frozen centroids/penalty state and subtract its
        batch effect with the frozen W. Stateless given the broadcast
        model, so the same code path serves batch DataFrames and
        Structured Streaming sources (micro-batch inference).

        Assignment uses zn = normalize(z) (a new cell has no previous
        correction to fold in); covariate levels unseen at fit time are
        rejected inside the kernel via the level maps.
        """
        if self.W_all is None:
            raise RuntimeError("run() must complete before transform()")
        p = self.p
        cells = df.select(
            F.col(id_col).cast("long").alias("cell_id"),
            F.col(features_col).cast(f"array<{SPARK_SCALAR}>").alias("z_orig"),
            *[self._level_code(v, i) for i, v in enumerate(self.vars_use)],
        )
        # flatten a blocked r_state to its last block state for new
        # cells (they belong to no training block); batch state passes
        # through unchanged
        rs = self._r_state
        if rs.get("blocked"):
            rs = rs["states"][-1]
        bc = self._broadcast(W_all=self.W_all, r_state=rs)
        kernel = kernels.make_transform_kernel(bc, self.code_cols, p.offsets)
        codes = ", ".join(f"{c} int" for c in self.code_cols)
        return cells.mapInArrow(
            kernel, schema=f"cell_id long, {codes}, z_corr array<{SPARK_SCALAR}>"
        )

    def assign(self, df: DataFrame, features_col: str = "features", id_col: str = "cell_id") -> DataFrame:
        """Soft-assign NEW cells against the frozen model without
        correcting them: (cell_id, codes, r ARRAY<FLOAT>). The input to
        monitoring statistics (streaming/drift.py) — works on batch and
        streaming DataFrames alike."""
        if self.W_all is None:
            raise RuntimeError("run() must complete before assign()")
        cells = df.select(
            F.col(id_col).cast("long").alias("cell_id"),
            F.col(features_col).cast(f"array<{SPARK_SCALAR}>").alias("z_orig"),
            *[self._level_code(v, i) for i, v in enumerate(self.vars_use)],
        )
        rs = self._r_state
        if rs.get("blocked"):
            rs = rs["states"][-1]
        bc = self._broadcast(W_all=self.W_all, r_state=rs)
        kernel = kernels.make_infer_assignment_kernel(bc, self.code_cols, self.p.offsets)
        codes = ", ".join(f"{c} int" for c in self.code_cols)
        return cells.mapInArrow(
            kernel, schema=f"cell_id long, {codes}, r array<{SPARK_SCALAR}>"
        )

    # ------------------------------------------------------- model getters
    # Parity with the reference's Rcpp getters (getR/getY/getO/getE,
    # /root/reference/src/harmony.cpp:672-709). Y/O/E are tiny driver
    # NumPy; R is distributed and returned as a DataFrame.

    def get_Y(self) -> np.ndarray:
        """(d, K) centroids, L2-normalized columns."""
        return self.Y.copy()

    def get_O(self) -> np.ndarray:
        """(K, B) observed cluster-by-batch co-occurrence."""
        return self.O.copy()

    def get_E(self) -> np.ndarray:
        """(K, B) expected counts under batch independence."""
        return self.E.copy()

    def get_R(self) -> DataFrame:
        """(cell_id, r ARRAY<FLOAT>) — the final soft assignment,
        recomputed from the assignment state (R is never stored)."""
        if getattr(self, "_cells_final", None) is None:
            raise RuntimeError("run() must complete before get_R()")
        bc = self._broadcast(**self._r_state)
        kernel = kernels.make_assignment_kernel(bc, self.code_cols, self.p.offsets)
        return self._cells_final.select("cell_id", "zn", *self.code_cols).mapInArrow(
            kernel, schema=f"cell_id long, r array<{SPARK_SCALAR}>"
        )


    def cleanup(self) -> None:
        """Release cached intermediates (call after materializing the
        result — e.g. result.persist(); result.count(); model.cleanup())."""
        if self._persisted is not None:
            self._persisted.unpersist()
            self._persisted = None
        if getattr(self, "cells0", None) is not None:
            self.cells0.unpersist()

    # -------------------------------------------------------------- sinks

    def convergence_trace(self) -> "DataFrame":
        """Objective traces as a DataFrame — the HarmonyConvergencePlot
        data (C7: /root/reference/R/utils.R:50-81). One row per E-step
        objective, tagged with its harmony round."""
        rows, i = [], 0
        rounds = [1] + list(self.kmeans_rounds)  # entry 0 = init objective
        for round_idx, n in enumerate(rounds):
            for j in range(n):
                if i < len(self.objective_kmeans):
                    rows.append((round_idx, j, float(self.objective_kmeans[i])))
                    i += 1
        return self.spark.createDataFrame(
            rows, "harmony_round int, kmeans_step int, objective double"
        )


def export_convergence(trace: DataFrame, path: str) -> tuple[str, str]:
    """HarmonyConvergencePlot equivalent (C7:
    /root/reference/R/utils.R:50-81) without a plotting stack: render
    the :meth:`HarmonySpark.convergence_trace` frame to ``<path>.csv``
    (the exact rows) and ``<path>.svg`` (a dependency-free polyline of
    objective vs E-step, one colour per harmony round).  The trace is
    K x rounds-sized driver state — collecting it is O(iterations),
    never O(cells).  Returns the two artifact paths."""
    rows = sorted(
        trace.collect(),
        key=lambda r: (r["harmony_round"], r["kmeans_step"]),
    )
    csv_path, svg_path = path + ".csv", path + ".svg"
    with open(csv_path, "w") as f:
        f.write("harmony_round,kmeans_step,objective\n")
        for r in rows:
            f.write(
                f"{r['harmony_round']},{r['kmeans_step']},"
                f"{r['objective']!r}\n"
            )
    w, h, pad = 640, 360, 40
    objs = [r["objective"] for r in rows] or [0.0]
    lo, hi = min(objs), max(objs)
    span = (hi - lo) or 1.0
    n = max(len(rows) - 1, 1)

    def xy(i: int, v: float) -> str:
        x = pad + (w - 2 * pad) * i / n
        y = h - pad - (h - 2 * pad) * (v - lo) / span
        return f"{x:.1f},{y:.1f}"

    colors = ["#2563eb", "#dc2626", "#059669", "#d97706", "#7c3aed"]
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" height="{h}" '
        f'viewBox="0 0 {w} {h}">',
        f'<rect width="{w}" height="{h}" fill="white"/>',
        f'<text x="{w // 2}" y="20" text-anchor="middle" font-size="14">'
        "Harmony objective per E-step</text>",
    ]
    by_round: dict[int, list[tuple[int, float]]] = {}
    for i, r in enumerate(rows):
        by_round.setdefault(r["harmony_round"], []).append(
            (i, r["objective"])
        )
    for rnd, pts in sorted(by_round.items()):
        c = colors[rnd % len(colors)]
        coords = " ".join(xy(i, v) for i, v in pts)
        tag = "polyline" if len(pts) > 1 else "circle"
        if tag == "polyline":
            parts.append(
                f'<polyline points="{coords}" fill="none" stroke="{c}" '
                'stroke-width="2"/>'
            )
        else:
            x, y = coords.split(",")
            parts.append(f'<circle cx="{x}" cy="{y}" r="3" fill="{c}"/>')
    parts.append("</svg>")
    with open(svg_path, "w") as f:
        f.write("\n".join(parts))
    return csv_path, svg_path


def run_harmony(
    df: DataFrame,
    vars_use: list[str],
    mode: str = "batch",
    return_object: bool = False,
    verbose: bool = False,
    **kwargs,
):
    """Corrected embeddings for a cells DataFrame — the RunHarmony.default
    equivalent (/root/reference/R/ui.R:91-296), cells-as-rows.

    ``return_object=True`` returns the fitted :class:`HarmonySpark`
    (R's return_object returns the harmony object); ``verbose`` prints
    the per-round objective like R's progress output. R's
    plot_convergence has no plotting surface here — the trace is
    ``model.objective_kmeans`` (see README).

    mode:
      * ``batch`` (default) — the distributed engine (batch-EM E-steps,
        SURVEY.md §7.5).
      * ``blocked-local`` — exact reference semantics (sequential
        5%-block online E-steps, src/harmony.cpp:269-342) via the NumPy
        implementation on driver-collected data. Parity mode for
        datasets that fit one node (caps at 2M cells); the distributed
        mode is the scale path.
    """
    if mode == "batch":
        model = HarmonySpark(df, vars_use, **kwargs)
        result = model.run(verbose=verbose)
        return model if return_object else result
    if mode != "blocked-local":
        raise ValueError("mode must be 'batch' or 'blocked-local'")

    from harmony_spark.core.numpy_ref import run_harmony_numpy
    from harmony_spark.core.params import resolve_params

    features_col = kwargs.pop("features_col", "features")
    id_col = kwargs.pop("id_col", None)
    seed = kwargs.pop("seed", 42)
    if id_col is None:
        df = df.withColumn("cell_id", F.monotonically_increasing_id())
        id_col = "cell_id"
    rows = df.select(
        F.col(id_col).cast("long").alias("cell_id"),
        F.col(features_col).cast(f"array<{SPARK_SCALAR}>").alias("z"),
        *[F.col(v).cast("string").alias(v) for v in vars_use],
    ).orderBy("cell_id").collect()
    if len(rows) > 2_000_000:
        raise ValueError("blocked-local parity mode caps at 2M cells; use mode='batch'")
    Z = np.stack([r["z"] for r in rows]).astype(F32)
    level_counts: dict[str, list[tuple[str, int]]] = {}
    codes = np.zeros((len(rows), len(vars_use)), dtype=np.int64)
    for i, v in enumerate(vars_use):
        vals = [r[v] for r in rows]
        levels = sorted(set(vals))
        lut = {lvl: j for j, lvl in enumerate(levels)}
        codes[:, i] = [lut[x] for x in vals]
        level_counts[v] = [(lvl, vals.count(lvl)) for lvl in levels]
    p = resolve_params(
        N=Z.shape[0], d=Z.shape[1], vars_use=list(vars_use),
        level_counts=level_counts, seed=seed, **kwargs,
    )
    h = run_harmony_numpy(Z, codes, p, mode="blocked")
    spark = df.sparkSession
    out = [
        (int(rows[i]["cell_id"]), [float(x) for x in h.Z_corr[i]])
        for i in range(len(rows))
    ]
    return spark.createDataFrame(out, f"cell_id long, z_corr array<{SPARK_SCALAR}>")


def project_dim(
    result: DataFrame,
    features: DataFrame,
    *,
    id_col: str = "cell_id",
    embedding_col: str = "z_corr",
    feature_col: str = "feature",
) -> DataFrame:
    """ProjectDim equivalent (/root/reference/R/RunHarmony.R:113-119,
    the one piece of the Seurat sink with actual math): feature
    loadings L[g, k] = sum over cells of X[cell][g] * Z[cell][k] — the
    feature matrix projected onto the corrected reduction, so each
    output row says how strongly feature g drives harmonized dimension
    k.  Distributed as an explode-join-aggregate matmul: both arrays
    posexplode to long form, co-locate on the cell id (one shuffle),
    and the G x d result comes out of a map-side-combinable sum — no
    driver-side matrix ever materializes."""
    x = features.select(
        id_col, F.posexplode(feature_col).alias("g", "x")
    )
    z = result.select(
        id_col, F.posexplode(embedding_col).alias("k", "z")
    )
    return (
        x.join(z, id_col)
        .groupBy("g", "k")
        .agg(
            F.sum(
                F.col("x").cast("double") * F.col("z").cast("double")
            ).alias("loading")
        )
        .orderBy("g", "k")
    )


def save_embedding(
    result: DataFrame,
    path: str,
    embedding_col: str = "z_corr",
    project_features: DataFrame | None = None,
) -> DataFrame:
    """Sink equivalent of the Seurat/SCE adapters (S3/S4:
    /root/reference/R/RunHarmony.R:60-194): persist the corrected
    embedding to parquet and return the per-dimension stddev frame the
    Seurat DimReduc stores (A7: /root/reference/R/RunHarmony.R:108).
    When ``project_features`` is given (a (cell_id, feature-array)
    frame), the ``project.dim`` step of the Seurat sink also runs:
    :func:`project_dim` loadings are written to ``<path>_loadings``."""
    result.write.mode("overwrite").parquet(path)
    if project_features is not None:
        project_dim(result, project_features, embedding_col=embedding_col).write.mode(
            "overwrite"
        ).parquet(path + "_loadings")
    spark = result.sparkSession
    saved = spark.read.parquet(path)
    d = saved.select(F.size(embedding_col).alias("d")).first()["d"]
    exploded = saved.select(F.posexplode(embedding_col).alias("dim", "x"))
    return (
        exploded.groupBy("dim")
        .agg(F.stddev_samp("x").alias("stdev"))
        .orderBy("dim")
    )


def save_model(model: "HarmonySpark", path: str) -> None:
    """Persist a FITTED model's driver state — everything
    ``transform()`` / ``assign()`` / ``init_Y`` warm starts need —
    as one .npz plus a params json under ``path``.

    The reference's users ``saveRDS`` the harmony object; this is the
    engine's equivalent. The state is tiny (Y is d x K, W_all is
    K x (B+1) x d, the penalty state K x B), so it lives driver-side;
    pass a shared filesystem path to hand the model to another
    cluster. Blocked-mode runs store the flattened last-block penalty
    state — exactly what transform() uses for new cells.
    """
    import json
    import os

    if model.W_all is None:
        raise RuntimeError("run() must complete before save_model()")
    os.makedirs(path, exist_ok=True)
    rs = model._r_state
    if rs.get("blocked"):
        rs = rs["states"][-1]
    arrays = {
        "Y": model.Y,
        "W_all": model.W_all,
        "O": model.O,
        "E": model.E,
        "p_N_b": model.p.N_b,
        "p_Pr_b": model.p.Pr_b,
        "p_sigma": model.p.sigma,
        "p_theta": model.p.theta,
    }
    if model.p.lamb is not None:
        arrays["p_lamb"] = model.p.lamb
    rs_keys = []
    for k, v in rs.items():
        if isinstance(v, np.ndarray):
            arrays[f"rs_{k}"] = v
            rs_keys.append(k)
    np.savez(os.path.join(path, "state.npz"), **arrays)
    pdict = dataclasses.asdict(model.p)
    for k in ("N_b", "Pr_b", "sigma", "theta", "lamb"):
        pdict.pop(k, None)
    meta = {
        "params": pdict,
        "vars_use": model.vars_use,
        "has_lamb": model.p.lamb is not None,
        "rs_array_keys": rs_keys,
        "rs_scalars": {
            k: v for k, v in rs.items() if not isinstance(v, np.ndarray)
        },
        "objective_kmeans": [float(x) for x in model.objective_kmeans],
        "objective_harmony": [float(x) for x in model.objective_harmony],
        "kmeans_rounds": [int(x) for x in model.kmeans_rounds],
        "estep_mode": model.estep_mode,
        "n_blocks": int(model.n_blocks),
        "scalar_double": bool(F32 is np.float64),
    }
    with open(os.path.join(path, "model.json"), "w") as f:
        # numpy scalars (np.int64 counts, np.float32 objectives) leak
        # into params/state dicts; .item() them at the boundary
        json.dump(meta, f, default=lambda o: o.item())


def load_model(spark: SparkSession, path: str) -> "HarmonySpark":
    """Reconstruct a fitted model saved by :func:`save_model`: the
    returned object supports ``transform()`` / ``assign()`` /
    ``get_Y()`` etc. and its ``get_Y()`` feeds ``init_Y`` warm
    starts. (It cannot be re-``run()`` — that needs the training
    cells.)"""
    import json
    import os

    with open(os.path.join(path, "model.json")) as f:
        meta = json.load(f)
    if meta.get("scalar_double", False) and F32 is not np.float64:
        # f64-saved state in an f32 session would silently downcast every
        # model array; upcasting the other way is lossless and allowed.
        raise ValueError(
            "model was saved with scalar_double=True but this session runs "
            "float32 — set HARMONY_SCALAR_DOUBLE=1 (see core/scalars.py) "
            "before loading to avoid silently downcasting the model state"
        )
    arrs = np.load(os.path.join(path, "state.npz"))
    pdict = dict(meta["params"])
    p = ResolvedParams(
        **pdict,
        N_b=arrs["p_N_b"],
        Pr_b=arrs["p_Pr_b"],
        sigma=arrs["p_sigma"],
        theta=arrs["p_theta"],
        lamb=arrs["p_lamb"] if meta["has_lamb"] else None,
    )
    m = HarmonySpark.__new__(HarmonySpark)
    m.spark = spark
    m.vars_use = list(meta["vars_use"])
    m.code_cols = [f"code_{i}" for i in range(len(m.vars_use))]
    m.p = p
    m.Y = arrs["Y"].astype(F32)
    m.W_all = arrs["W_all"].astype(F32)
    m.O = arrs["O"].astype(F32)
    m.E = arrs["E"].astype(F32)
    rs = dict(meta["rs_scalars"])
    for k in meta["rs_array_keys"]:
        rs[k] = arrs[f"rs_{k}"]
    m._r_state = rs
    m.objective_kmeans = list(meta["objective_kmeans"])
    # the full lifecycle state, so post-fit accessors (convergence_trace,
    # get_R's guard, cleanup) hit their documented RuntimeError guards —
    # not AttributeError — on whatever a loaded model cannot support
    m.objective_harmony = list(meta.get("objective_harmony", []))
    m.kmeans_rounds = list(meta.get("kmeans_rounds", []))
    m.estep_mode = meta.get("estep_mode", "batch")
    m.n_blocks = int(meta.get("n_blocks", 1))
    m._cells_final = None
    m.cells0 = None  # training cells are not persisted; run() is guarded
    m._persisted = None
    return m

"""The benchmark's workloads: a harmony fit below the fuse gate (and,
ungated, the same fit above it), and a warm mix of registered queries.

Each workload is a closed loop with one client: it sets up, runs its
operation once cold, repeats it a fixed number of times to warm up,
repeats it warm for the measuring window, checks every output, and
finally sets up twice more so ``setup_s`` is a median.
Calls into the program's layers are wrapped in spans (see ``trace.py``);
with tracing off the spans record nothing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import cells, tables
from perfbench.trace import (
    Tracer, clipped, hash_rows, job_totals, median, rows_match, self_times, subtree,
    tail_percentile, union_length,
)

# ------------------------------------------------------------ parameters

DIMS = 30
HARMONY_PARAMS = dict(nclust=50, max_iter=2, early_stop=False, lamb=1.0, sigma=0.1, seed=42)
HARMONY_CELLS = {"harmony_fused": 30_000, "harmony_distributed": 66_000}
QUERY_SF = 0.01
# Four of the eight floor-bound queries where turning AQE off cut jobs and
# time, and one heavy query (a containment join that does its work while
# being built); the list is cut to the run budget, which leaves out the
# queries with the costliest first execution.
FLOOR = (
    "q56_pricing_summary",
    "q180_top_revenue_supplier",
    "q302_jackknife_ratio_se",
    "q317_chapman_estimate",
)
HEAVY = ("q264_containment_quotes",)
# Warm repetitions run before the window opens and stay out of every
# median: the first warm fit, and the first three warm passes of the
# query mix, still run slower while the JVM compiles the hot paths.
HARMONY_WARMUP = 1
QUERY_WARMUP = 3
SETUPS = 3  # setup_s is the median of this many set-ups in one run
SETUP_PHASES = ("session.start", "registry.load", "inputs.gen", "io.warm")
SPARK_METRICS = {  # per-layer name -> job_totals key
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.job_wall_s": "job_wall_s",
    "spark.task_run_s": "run_s",
    "spark.task_cpu_s": "cpu_s",
    "spark.gc_s": "gc_s",
    "spark.result_bytes": "result_bytes",
    "spark.shuffle_bytes": "shuffle_bytes",
    "spark.spill_bytes": "spill_bytes",
}


@dataclass
class Run:
    """One invocation: arguments, the tracer, checks and the metrics so far."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work_dir: str
    t_start: float
    tracer: Tracer | None = None
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    _last_mark: float | None = None

    def warm_samples(self, n: int) -> None:
        """Record the warm sample count and the tail percentile it supports
        (None: fewer than ten samples would lie beyond any)."""
        self.info["warm_samples"] = n
        self.info["warm_tail_percentile"] = tail_percentile(n)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# check failed: {what}", file=sys.stderr)

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under ``phase``."""
        now = time.perf_counter()
        marks = self.info.setdefault("phases_s", {})
        marks[phase] = now - (self._last_mark or self.t_start)
        self._last_mark = now

    def min_warm(self) -> int:
        """Warm repetitions in the window even when they outlast it: a
        median of at least three (four in a traced run, two of them
        traced)."""
        return 4 if self.trace else 3

    def warm_traced(self, i: int) -> bool:
        """A traced run orders its warm repetitions untraced, traced,
        traced, untraced, ... so the tracing overhead is measured on the
        same run without the warm-up trend favouring either side."""
        return self.trace and i % 4 in (1, 2)


def spin_sentinel_ms() -> float:
    """Wall time of a fixed chunk of single-threaded arithmetic: a reading
    far above the box's quiet value flags contention."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000.0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (VmHWM), MB, of the JVM, this process and the
    JVM's descendants (the Python daemon and workers)."""
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    workers, todo = [], list(children.get(jvm, []))
    while todo:
        p = todo.pop()
        workers.append(p)
        todo.extend(children.get(p, []))

    def hwm(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    return {
        "jvm": hwm(jvm),
        "driver": hwm(os.getpid()),
        "workers": sum(hwm(p) for p in workers),
        "n_workers": len(workers),
    }


def _start_session():
    from harmony_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextmanager
def phase(run: Run, phases: dict, name: str, since: float | None = None):
    """Time one set-up phase into ``phases`` (and a span when tracing)."""
    t = time.perf_counter() if since is None else since
    with run.tracer.span(name):
        yield
    phases[name] = time.perf_counter() - t


def _setup(run: Run, make_inputs, first: bool):
    """One set-up: session, registry, inputs. Returns (spark, specs, inputs,
    phase seconds, total seconds). The first set-up counts from process
    start; later ones from the moment the previous session was stopped."""
    from harmony_spark.registry import load_all

    t0 = run.t_start if first else time.perf_counter()
    phases: dict[str, float] = {}
    with phase(run, phases, "session.start", since=t0):
        spark = _start_session()
        run.tracer.spark = spark
    with phase(run, phases, "registry.load"):
        specs = load_all()
    inputs = make_inputs(spark, phases)
    return spark, specs, inputs, phases, time.perf_counter() - t0


def _resetups(run: Run, spark, make_inputs, first_total: float, first_phases: dict) -> None:
    """Stop the session and set up again, SETUPS - 1 times; record medians."""
    totals, phases = [first_total], [first_phases]
    for _ in range(SETUPS - 1):
        run.tracer.spark = None  # the stopped session takes no job groups
        spark.stop()
        spark, _, _, ph, total = _setup(run, make_inputs, first=False)
        totals.append(total)
        phases.append(ph)
    run.e2e["setup_s"] = median(totals)
    for name in SETUP_PHASES:
        run.layer[f"{name}_s"] = median([p.get(name, 0.0) for p in phases])
    run.info["setup_totals_s"] = totals


# --------------------------------------------------------------- harmony


@dataclass
class Fit:
    wall: float
    count: int
    checksum: float
    iters: list
    span: object
    model: object = None
    out: object = None


def _fit(run: Run, df, n_cells: int, traced: bool, keep: bool = False) -> Fit:
    """One harmony fit: constructor, run(), and the action that
    materializes every corrected row (a checksum aggregate)."""
    from pyspark.sql import functions as F

    from harmony_spark.core.algorithm import HarmonySpark

    tr = run.tracer
    tr.enabled = traced
    max_iter = HARMONY_PARAMS["max_iter"]
    t0 = time.perf_counter()
    root = tr.open("fit")
    with tr.span("algorithm.init"):
        model = HarmonySpark(df, ["batch"], id_col="cell_id", **HARMONY_PARAMS)
    run_span = tr.open("algorithm.run")
    cur = [tr.open("algorithm.round", idx=0)]

    def progress(r, _objective):
        tr.close(cur[0])
        cur[0] = tr.open("algorithm.round", idx=r + 1) if r + 1 < max_iter else None

    out = model.run(progress=progress)
    tr.close(cur[0])
    tr.close(run_span)
    with tr.span("algorithm.correct"):
        row = out.select(
            F.aggregate("z_corr", F.lit(0.0).cast("double"), lambda a, x: a + x.cast("double")).alias("s")
        ).agg(F.count("*").alias("n"), F.sum("s").alias("s")).collect()[0]
    tr.close(root)
    wall = time.perf_counter() - t0
    tr.enabled = run.trace
    fit = Fit(wall, int(row["n"]), float(row["s"]), list(model.kmeans_rounds), root)
    if keep:
        fit.model, fit.out = model, out
    else:
        model.cleanup()
    return fit


def _reference(run: Run, df, fit: Fit, n_cells: int) -> dict:
    """Run the NumPy reference in a BLAS-pinned child process and compare
    it with ``fit``'s corrected embedding."""
    from pyspark.sql import functions as F

    from harmony_spark.core import algorithm

    cap = algorithm._INIT_SAMPLE_CAP
    if n_cells <= cap:
        ids = np.arange(n_cells)
    else:  # the same hash sample HarmonySpark._init_Y takes
        rows = df.select("cell_id").orderBy(F.xxhash64("cell_id")).limit(cap).collect()
        ids = np.sort(np.array([r["cell_id"] for r in rows], dtype=np.int64))
    tbl = fit.out.select("cell_id", "z_corr").toArrow()
    order = np.argsort(tbl.column("cell_id").to_numpy())
    z = tbl.column("z_corr").combine_chunks().flatten().to_numpy(zero_copy_only=False)
    z = z.reshape(len(order), -1)[order]
    base = os.path.join(run.work_dir, f"ref-{run.workload}-{run.seed}")
    np.save(base + "-ids.npy", ids)
    np.save(base + "-z.npy", z)
    req = {
        "seed": run.seed, "dims": DIMS, "n_cells": n_cells,
        "params": HARMONY_PARAMS, "sample_ids": base + "-ids.npy", "z_corr": base + "-z.npy",
    }
    with open(base + ".json", "w") as f:
        json.dump(req, f)
    env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1", MKL_NUM_THREADS="1")
    proc = subprocess.run(
        [sys.executable, "-m", "perfbench.reference", base + ".json"],
        env=env, capture_output=True, text=True, timeout=150,
    )
    if proc.returncode != 0:
        print(proc.stderr[-2000:], file=sys.stderr)
        return {"ok": False, "fit_s": float("nan"), "checksum": float("nan"), "tolerance": 0.0}
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _fit_layers(run: Run, fits: list[Fit], jobs, n_cells: int) -> None:
    """Per-layer metrics of the traced warm fits (medians over fits)."""
    spans = run.tracer.spans
    st = self_times(spans)
    rows = []
    for fit in fits:
        tree = subtree(spans, fit.span.id)
        by = {}
        for s in tree:
            by.setdefault(s.name, []).append(s)
        ids = {str(s.id) for s in tree}
        fjobs = [j for j in jobs if j.group in ids]
        tot = job_totals(fjobs)
        rounds = sorted(by["algorithm.round"], key=lambda s: s.attrs["idx"])
        dur = lambda s: s.end - s.start  # noqa: E731
        fit_wall = dur(fit.span)
        # self times over the fit's span tree must add up to its wall time
        run.info.setdefault("fit_selftime_minus_wall_s", []).append(
            sum(st[s.id] for s in tree) - fit_wall
        )
        N, K, d = n_cells, HARMONY_PARAMS["nclust"], DIMS
        steps = sum(i + 2 for i in fit.iters) + 2  # E-steps + cold start + MoE per round, + correction
        gflop = 2.0 * N * K * d * steps / 1e9
        row = {
            "algorithm.init_s": dur(by["algorithm.init"][0]),
            "algorithm.run_s": dur(by["algorithm.run"][0]),
            "algorithm.round0_s": dur(rounds[0]),
            "algorithm.round_s": median([dur(s) for s in rounds[1:]]) if len(rounds) > 1 else dur(rounds[0]),
            "algorithm.correct_s": dur(by["algorithm.correct"][0]),
            "algorithm.driver_s": fit_wall
            - union_length(clipped([(j.start, j.end) for j in fjobs], fit.span.start, fit.span.end)),
            "algorithm.rounds": len(fit.iters),
            "algorithm.kmeans_iters": sum(fit.iters),
            "kernels.computed_gflop": gflop,
            "kernels.busy_slots": tot["run_s"] / tot["job_wall_s"] if tot["job_wall_s"] else 0.0,
            "kernels.gflops": gflop / tot["run_s"] if tot["run_s"] else 0.0,
        }
        for name, key in SPARK_METRICS.items():
            row[name] = tot[key]
        rows.append(row)
    for name in rows[0]:
        run.layer[name] = median([r[name] for r in rows])


def harmony(run: Run) -> None:
    """The caller stops the session this leaves running."""
    n_cells = HARMONY_CELLS[run.workload]

    def make_inputs(spark, phases):
        with phase(run, phases, "inputs.gen"):
            df = cells.spark_cells(spark, run.seed, DIMS, n_cells).persist()
            df.count()
        return df

    spark, _, df, phases, setup1 = _setup(run, make_inputs, first=True)
    run.layer["sentinel.pre_ms"] = spin_sentinel_ms()

    run.mark("setup")
    cold = _fit(run, df, n_cells, traced=run.trace)
    run.mark("cold")
    warmup = [_fit(run, df, n_cells, traced=False) for _ in range(HARMONY_WARMUP)]
    run.mark("warmup")
    warm: list[Fit] = []
    t_w = time.perf_counter()
    while len(warm) < run.min_warm() or time.perf_counter() - t_w < run.seconds:
        if warm:  # only the last warm fit is kept for the reference check
            warm[-1].model.cleanup()
            warm[-1].model = warm[-1].out = None
        warm.append(_fit(run, df, n_cells, traced=run.warm_traced(len(warm)), keep=True))
    run.mark("warm")
    run.layer["sentinel.post_ms"] = spin_sentinel_ms()
    rss = run.info["peak_rss_mb"] = peak_rss_mb(spark)
    run.layer["peak_rss_mb"] = rss["jvm"] + rss["driver"] + rss["workers"]
    jobs = run.tracer.jobs()
    run.info["stages_evicted"] = sum(j.stages_evicted for j in jobs)

    # checks: every fit materialized all cells; the last one matches the
    # NumPy reference element-wise; every fit's checksum is within the
    # summed element tolerance of the reference's
    ref = _reference(run, df, warm[-1], n_cells)
    warm[-1].model.cleanup()
    run.check(ref["ok"], f"z_corr vs numpy reference (max abs err {ref.get('max_abs_err')})")
    for k, fit in enumerate([cold] + warmup + warm):
        run.check(
            fit.count == n_cells
            and len(fit.iters) == HARMONY_PARAMS["max_iter"]
            and abs(fit.checksum - ref["checksum"]) <= ref["tolerance"],
            f"fit {k}: {fit.count} rows, {len(fit.iters)} rounds, "
            f"checksum {fit.checksum} vs reference {ref['checksum']}",
        )

    untraced = [f.wall for i, f in enumerate(warm) if not run.warm_traced(i)]
    warm_s = median(untraced)
    run.warm_samples(len(untraced))
    run.e2e["cold_s"] = cold.wall
    run.e2e["warm_s"] = warm_s
    run.info["warmup_fits_s"] = [f.wall for f in warmup]
    run.info["warm_fits_s"] = [f.wall for f in warm]
    run.layer["numpy_ref.fit_s"] = ref["fit_s"]
    run.layer["ref.spark_vs_numpy"] = warm_s / ref["fit_s"]
    if run.trace:
        traced = [f for i, f in enumerate(warm) if run.warm_traced(i)]
        _fit_layers(run, traced, jobs, n_cells)
        run.layer["trace.overhead_frac"] = median([f.wall for f in traced]) / warm_s - 1.0

    run.mark("check")
    _resetups(run, spark, make_inputs, setup1, phases)
    run.mark("resetup")


# ------------------------------------------------------------- query mix


@dataclass
class Exec:
    name: str
    build: float
    plan: float
    run: float
    total: float
    rows: list
    span: object


def _execute(run: Run, spark, spec, sf_dir: str, traced: bool) -> Exec:
    """One query: build the DataFrame, (traced: force its physical plan),
    collect. Timed per phase; the rows are hashed after the clock stops."""
    tr = run.tracer
    tr.enabled = traced
    try:
        with tr.span("query", query=spec.name) as root:
            t0 = time.perf_counter()
            with tr.span("query.build"):
                df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            if traced:
                with tr.span("query.plan"):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("query.exec"):
                rows = df.collect()
            t3 = time.perf_counter()
    finally:
        tr.enabled = run.trace
    cols = sorted(df.columns)
    rows = [tuple(r[c] for c in cols) for r in rows]
    return Exec(spec.name, t1 - t0, t2 - t1, t3 - t2, t3 - t0, rows, root)


def _duckdb(sf_dir: str, specs, names, timed_reps: int):
    """Oracle result rows and median warm latency per query."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables.TABLES:
            con.sql(f"CREATE TABLE {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            sql = specs[name].oracle
            res = con.sql(sql)
            cols = sorted(res.columns)
            idx = [res.columns.index(c) for c in cols]
            rows = [tuple(r[i] for i in idx) for r in res.fetchall()]
            lat = []
            for _ in range(timed_reps):
                t = time.perf_counter()
                con.sql(sql).fetchall()
                lat.append(time.perf_counter() - t)
            out[name] = (rows, median(lat) if lat else 0.0)
        return out
    finally:
        con.close()


def _query_layers(run: Run, traced_passes: list[list[Exec]], jobs) -> None:
    """Per-layer metrics of the traced warm passes: per query the median
    over passes, summed over the mix and over each family."""
    spans = run.tracer.spans
    family = {n: "floor" for n in FLOOR} | {n: "heavy" for n in HEAVY}
    per_query: dict[str, list[dict]] = {}
    for p in traced_passes:
        for e in p:
            tree = subtree(spans, e.span.id)
            ids = {str(s.id) for s in tree}
            build_ids = {str(s.id) for s in tree if s.name == "query.build"}
            qjobs = [j for j in jobs if j.group in ids]
            tot = job_totals(qjobs)
            row = {
                "query.build_s": e.build,
                "query.build_jobs": sum(1 for j in qjobs if j.group in build_ids),
                "query.plan_s": e.plan,
                "query.exec_s": e.run,
            }
            for name, key in SPARK_METRICS.items():
                row[name] = tot[key]
            per_query.setdefault(e.name, []).append(row)
    for metric in next(iter(per_query.values()))[0]:
        sums = {"floor": 0.0, "heavy": 0.0}
        for q, rows in per_query.items():
            sums[family[q]] += median([r[metric] for r in rows])
        run.layer[metric] = sums["floor"] + sums["heavy"]
        run.layer[f"{metric}.floor"] = sums["floor"]
        run.layer[f"{metric}.heavy"] = sums["heavy"]


def query_mix(run: Run) -> None:
    """The caller stops the session this leaves running."""
    names = FLOOR + HEAVY
    sf_dir = os.path.join(run.work_dir, f"tables-{run.seed}")

    def make_inputs(spark, phases):
        from harmony_spark.io import TABLES, table_parallel

        with phase(run, phases, "inputs.gen"):
            tables.write(sf_dir, run.seed, QUERY_SF)
        with phase(run, phases, "io.warm"):
            for name in TABLES:
                table_parallel(spark, sf_dir, name).count()

    spark, specs, _, phases, setup1 = _setup(run, make_inputs, first=True)
    run.layer["sentinel.pre_ms"] = spin_sentinel_ms()

    def one_pass(traced: bool) -> list[Exec]:
        out = []
        for name in names:
            try:
                out.append(_execute(run, spark, specs[name], sf_dir, traced))
            except Exception as exc:  # noqa: BLE001 - one failing query must not stop the mix
                run.check(False, f"{name} raised {type(exc).__name__}: {str(exc)[:300]}")
        return out

    run.mark("setup")
    cold = one_pass(traced=run.trace)
    run.mark("cold")
    warmup = [one_pass(traced=False) for _ in range(QUERY_WARMUP)]
    run.mark("warmup")
    warm: list[list[Exec]] = []
    t_w = time.perf_counter()
    while len(warm) < run.min_warm() or time.perf_counter() - t_w < run.seconds:
        warm.append(one_pass(traced=run.warm_traced(len(warm))))
    run.mark("warm")
    run.layer["sentinel.post_ms"] = spin_sentinel_ms()
    rss = run.info["peak_rss_mb"] = peak_rss_mb(spark)
    run.layer["peak_rss_mb"] = rss["jvm"] + rss["driver"] + rss["workers"]
    jobs = run.tracer.jobs()
    run.info["stages_evicted"] = sum(j.stages_evicted for j in jobs)

    oracle_names = [n for n in names if specs[n].oracle is not None]
    oracle = _duckdb(sf_dir, specs, oracle_names, timed_reps=3 if run.trace else 0)
    first_n = {e.name: len(e.rows) for e in cold}
    for e in cold + [e for p in warmup + warm for e in p]:
        if e.name in oracle:
            expect = oracle[e.name][0]
            exact = hash_rows(e.rows) == hash_rows(expect)
            run.info["last_digit_matches"] = run.info.get("last_digit_matches", 0) + (not exact)
            run.check(
                exact or rows_match(e.rows, expect),
                f"{e.name}: {len(e.rows)} rows vs oracle {len(expect)}, hashes differ",
            )
        else:
            n = len(e.rows)
            run.check(n > 0 and n == first_n[e.name], f"{e.name}: {n} rows (first run {first_n[e.name]})")

    def warm_median(pass_filter) -> dict[str, float]:
        lat: dict[str, list[float]] = {}
        for i, p in enumerate(warm):
            if pass_filter(i):
                for e in p:
                    lat.setdefault(e.name, []).append(e.total)
        return {n: median(v) for n, v in lat.items()}

    wm = warm_median(lambda i: not run.warm_traced(i))
    run.warm_samples(sum(1 for i in range(len(warm)) if not run.warm_traced(i)))
    warm_s = sum(wm.values())
    run.e2e["cold_s"] = sum(e.total for e in cold)
    run.e2e["warm_s"] = warm_s
    run.layer["floor_warm_s"] = sum(v for n, v in wm.items() if n in FLOOR)
    run.layer["heavy_warm_s"] = sum(v for n, v in wm.items() if n in HEAVY)
    if run.trace:
        duck = sum(oracle[n][1] for n in oracle)
        run.layer["duckdb.warm_s"] = duck
        run.layer["ref.spark_vs_duckdb"] = sum(wm.get(n, 0.0) for n in oracle) / duck
        traced = [p for i, p in enumerate(warm) if run.warm_traced(i)]
        _query_layers(run, traced, jobs)
        tm = warm_median(run.warm_traced)
        run.layer["trace.overhead_frac"] = sum(tm.values()) / warm_s - 1.0
    run.info["warmup_pass_s"] = [sum(e.total for e in p) for p in warmup]
    run.info["warm_pass_s"] = [sum(e.total for e in p) for p in warm]
    run.info["query_cold_s"] = {e.name: e.total for e in cold}
    run.info["query_warm_s"] = wm

    run.mark("check")
    _resetups(run, spark, make_inputs, setup1, phases)
    run.mark("resetup")


WORKLOADS = {"harmony_fused": harmony, "harmony_distributed": harmony, "query_mix": query_mix}

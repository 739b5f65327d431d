"""Benchmark of harmony_spark: a harmony fit below the fuse gate and a warm
mix of registered queries, each in a fresh process on ``local[nproc]``.

    python3 perfbench/run.py --workload harmony_fused --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

Run from the repository root. Every input is generated from ``--seed``
under ``.perfbench_work/``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (which also
writes the span file named on the line before). Metric meanings and the
workload each one should move are in ``perfbench/METRICS.md``.
"""

import time

T_START = time.perf_counter()  # the first set-up counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("harmony_fused", "query_mix")  # the set BENCHMARK.json gates
# Runnable, but left out of the gated set to fit the run budget: the same
# fit above the fuse gate (one Spark job per E-step).
UNGATED = ("harmony_distributed",)
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
_SPARK = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_wall_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.result_bytes": "bytes", "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}
_QUERY = {"query.build_s": "s", "query.build_jobs": "count", "query.plan_s": "s", "query.exec_s": "s"}
# A per-layer metric a workload does not exercise reads 0.
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s", "io.warm_s": "s", "inputs.gen_s": "s",
    "algorithm.init_s": "s", "algorithm.run_s": "s", "algorithm.round0_s": "s",
    "algorithm.round_s": "s", "algorithm.correct_s": "s", "algorithm.driver_s": "s",
    "algorithm.rounds": "count", "algorithm.kmeans_iters": "count",
    **_SPARK,
    **{f"{k}.{fam}": u for fam in ("floor", "heavy") for k, u in _SPARK.items()},
    "kernels.busy_slots": "slots", "kernels.computed_gflop": "gflop", "kernels.gflops": "gflop/s",
    **_QUERY,
    **{f"{k}.{fam}": u for fam in ("floor", "heavy") for k, u in _QUERY.items()},
    "floor_warm_s": "s", "heavy_warm_s": "s", "io.cold_extra_s": "s", "failed_frac": "ratio",
    "peak_rss_mb": "MB",
    "numpy_ref.fit_s": "s", "ref.spark_vs_numpy": "ratio",
    "duckdb.warm_s": "s", "ref.spark_vs_duckdb": "ratio",
    "sentinel.pre_ms": "ms", "sentinel.post_ms": "ms", "trace.overhead_frac": "ratio",
}


def _environment(work_dir: str) -> None:
    """Pin the processes this run starts: Spark cores, warm table cache,
    scratch space inside the checkout, imports from the checkout."""
    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["HARMONY_CACHE_TABLES"] = "1"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _info(args, run) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    blas = numpy.show_config(mode="dicts")["Build Dependencies"]["blas"]
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
        "python": sys.version.split()[0], "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__, "pandas": pandas.__version__,
        "blas": f"{blas.get('name')} {blas.get('version')}",
        "blas_threads": {
            k: os.environ.get(k, "unset")
            for k in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
        },
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        # contention sentinel of every run, traced or not
        "sentinel_pre_ms": run.layer["sentinel.pre_ms"],
        "sentinel_post_ms": run.layer["sentinel.post_ms"],
        **run.info,
    }


def _stop_jvm() -> None:
    """Stop the Spark session and the JVM this process launched, and wait
    for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_one(args) -> int:
    try:
        import harmony_spark
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(harmony_spark.__file__)) != os.path.join(ROOT, "harmony_spark"):
        print(f"perfbench: harmony_spark comes from {harmony_spark.__file__}, not this checkout", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_work")
    _environment(work_dir)
    from perfbench import workloads
    from perfbench.trace import Tracer

    run = workloads.Run(
        args.workload, args.seed, float(args.seconds), bool(args.trace), work_dir, T_START
    )
    run.tracer = Tracer(None, f"{args.workload}-s{args.seed}-{os.getpid()}", run.trace)
    try:
        workloads.WORKLOADS[args.workload](run)
    finally:
        _stop_jvm()
    run.mark("stop")
    run.layer["io.cold_extra_s"] = run.e2e["cold_s"] - run.e2e["warm_s"]
    run.layer["failed_frac"] = run.failed / run.attempted

    if run.trace:
        metrics = {n: {"value": float(run.layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
    else:  # every end-to-end metric is measured on every workload
        metrics = {n: {"value": float(run.e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"info": _info(args, run)}))
    if run.trace:
        path = os.path.join(work_dir, f"spans-{args.workload}-s{args.seed}.jsonl")
        run.tracer.write(path)
        print(f"spans: {os.path.relpath(path, ROOT)} ({len(run.tracer.spans)} spans)")
    for n, m in metrics.items():
        print(f"{args.workload} {n} {m['value']:.6g} {m['unit']}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload, each in a fresh process; one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(proc.stderr[-3000:], file=sys.stderr)
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for n, m in res["metrics"].items():
            combined["metrics"][f"{w}.{n}"] = m
    print(json.dumps(combined))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, *UNGATED, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    os.chdir(ROOT)  # Python workers import the program from the working directory
    sys.path[0] = ROOT  # not perfbench/, whose module names would shadow others
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())

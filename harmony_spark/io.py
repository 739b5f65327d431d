"""Parquet sources for the driver testdata (TESTDATA.md).

All reads go through :func:`table` so filter pushdown / column pruning are
preserved (we hand Catalyst the bare scan and declare everything else on
top). Mirrors the reference's sources S1/S2 (``/root/reference/R/ui.R:91-188``)
— there, ingest is a dense-matrix copy; here it's a parquet scan whose
schema is fixed as cells-as-rows, so the reference's orientation-inference
transpose disappears (SURVEY.md §2.1 S1).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The session store: every session-scoped value the engine keeps lives
# in this one dict, keyed (applicationId, *key). Entries of any other
# applicationId belong to a stopped session (their DataFrames reference a
# dead JVM session) and are swept on the next access. Two entry points:
#
# * session_memo / table / table_parallel: DataFrames, built only under
#   HARMONY_CACHE_TABLES=1 (the bench's warm-session mode). The table
#   cache's unit is the dataset: one entry per (session, sf_dir) holds
#   every table of it, built concurrently on first use. Default OFF:
#   CI and the plan-guard tests exercise the bare FileScan path so
#   predicate pushdown / column pruning stay observable; the bench turns
#   it on (and gives DuckDB the same in-memory treatment) so both engines
#   are measured on warm inputs rather than on per-query parquet
#   re-ingest. At 100 TB the flag maps to caching dims + letting the fact
#   tables stream from the scan exactly as the default path does.
# * session_value: driver-side values (dist_rank's shard statistics, PQ
#   codebooks, q78's built-index marker), always on.
_STORE: dict[tuple, object] = {}


def scaled_partitions(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...],
    bytes_per_partition: int = 32 * 1024 * 1024,
) -> int:
    """Partition count for a SHUFFLE-BOUND derived table, sized from the
    on-disk bytes of its source tables (guide §2: derive partitioning
    from input size, never a constant tuned for one deployment).  At
    sf0.1 a lineitem-derived edge set is a few MB -> 1-2 partitions, so
    iterative consumers pay 1-2 tasks per round instead of
    ``spark.sql.shuffle.partitions`` near-empty ones; at cluster scale
    the computed count exceeds the configured ceiling and the cluster's
    own ``shuffle.partitions`` (the scale-config the operator already
    inherits) takes over.  NOT for compute-bound stages — per-row-heavy
    work (edit distances, rank windows) must size by CPU, not bytes
    (the q123 lesson)."""
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nbytes = 0
    for t in tables:
        try:
            nbytes += os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
        except OSError:
            return n_shuffle
    return max(1, min(n_shuffle, -(-nbytes // bytes_per_partition)))


def _cache_enabled() -> bool:
    return os.environ.get("HARMONY_CACHE_TABLES", "") == "1"


def _store_key(spark: SparkSession, key: tuple) -> tuple:
    """The one key builder: ``(applicationId, *key)``, with every
    element that names an existing directory (a dataset's ``sf`` dir)
    normalized to its absolute path, so two spellings of one dataset
    share an entry."""
    return (
        spark.sparkContext.applicationId,
        *(
            os.path.abspath(k) if isinstance(k, str) and os.path.isdir(k) else k
            for k in key
        ),
    )


def session_value(spark: SparkSession, key: tuple, build):
    """Return ``build()`` memoized per (session, *key) in the session
    store, ungated.  For driver-side values derived DETERMINISTICALLY
    from session-immutable inputs; dropped when the session stops."""
    k = _store_key(spark, key)
    # the one stale-session sweep: an O(len) dict pass, trivial next to
    # any Spark action
    for stale in [s for s in _STORE if s[0] != k[0]]:
        del _STORE[stale]
    if k not in _STORE:
        _STORE[k] = build()
    return _STORE[k]


def session_memo(spark: SparkSession, key: tuple, build) -> DataFrame:
    """Return ``build()`` memoized in the session store behind a lazy
    localCheckpoint, for derived DataFrames shared across queries and
    warm reruns (the LSH pair set, the co-purchase edge list): the
    materialized-view analogue of the table cache.  Only active under
    HARMONY_CACHE_TABLES=1; otherwise every call builds, so CI and the
    plan guards keep the raw per-query plans.  Callers pass ``sf`` in
    ``key`` as is (see :func:`_store_key`) and must only memoize
    DETERMINISTIC builds over session-immutable inputs."""
    if not _cache_enabled():
        return build()
    return session_value(
        spark, key, lambda: build().localCheckpoint(eager=False)
    )


def _cached_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One table of the session's in-memory copy of ``sf_dir``.  The first
    call for a dataset builds the copy of every table (see
    :func:`_build_dataset`); every later call is a dict lookup.  A table
    the copy lacks (its file was absent, or its build failed) is built
    alone on each read until a build succeeds, so a broken table fails
    only its own reads."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    tables = session_value(
        spark, ("tables", sf_dir), lambda: _build_dataset(spark, sf_dir)
    )
    if name not in tables:
        tables[name] = _build_table(spark, _scan(spark, sf_dir, name))
    return tables[name]


def _build_table(spark: SparkSession, df: DataFrame) -> DataFrame:
    # Cached at defaultParallelism deliberately.  Sizing the cache
    # by table bytes instead (≈1 MB/partition, floor para/4) was
    # A/B-measured on a 30-query slice in round 8: wash in total
    # (0.99x) — ~0.15 s/stage saved on task-launch overhead for
    # join/agg-shaped queries, but 20-40 % regressions on
    # compute-bound map stages (q218/q344/q331/q62) that lost
    # their parallelism.  Rejected (guide §1.2: measure, keep the
    # evidence, don't keep the config).
    df = ensure_parallelism(spark, df).persist()
    try:
        df.count()  # materialize once; every later query reads memory
    except Exception:
        df.unpersist()
        raise
    return df


def _build_dataset(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build the in-memory copy of every table present in ``sf_dir``,
    one thread per table.  Each table is a chain of small jobs (schema
    inference, the repartition, the cache fill, the count), mostly
    1-task stages; run one table after another, they leave all but one
    core idle, so the tables' chains overlap instead.  The threads carry
    the caller's job group and tags (``inheritable_thread_target``), so
    the build's jobs are attributed like the caller's own.  A table
    whose build fails is left out; :func:`_cached_table` retries it on
    its own read, where the error surfaces."""
    names = [t for t in TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))]
    if not names:
        return {}
    if "events" in names:
        _pin_nanos_confs(spark)  # before the threads: they only read
    build = inheritable_thread_target(spark)(
        lambda name: _build_table(spark, _read(spark, sf_dir, name))
    )
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        futures = {name: pool.submit(build, name) for name in names}
    return {name: f.result() for name, f in futures.items() if f.exception() is None}


def normalize_nanos_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a parquet TIMESTAMP(NANOS) column to a usable timestamp,
    branching on what the running Spark actually produced:

    * ``timestamp_ntz`` — Spark 4.x reads the nanos column natively,
      truncated to microseconds (verified equal to DuckDB's micros read);
      cast to TIMESTAMP (exact under the engine's pinned UTC session tz)
      so downstream epoch functions (``unix_micros`` etc.) resolve.
    * ``bigint`` — older Sparks with ``spark.sql.legacy.parquet.nanosAsLong``
      hand back raw nanos; rebuild micros with integer division (the ns
      value exceeds double's 53-bit mantissa, so a float path would wobble
      the microsecond by up to ~1us).
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _pin_nanos_confs(spark: SparkSession) -> None:
    """The ONE place the nanos-read session confs are set, shared by every
    parquet entry point (:func:`table`, :func:`read_any`) so the same file
    yields the same dtypes regardless of which one read it.

    * ``nanosAsLong`` is a no-op on Spark 4.x (native nanos read); it
      enables the bigint fallback on Sparks whose vectorized reader
      rejects TIMESTAMP(NANOS).
    * Epoch nanos are absolute; the NTZ->TIMESTAMP cast in
      :func:`normalize_nanos_ts` is only exact under UTC. The engine's
      own sessions pin UTC at construction (``session.get_spark``); this
      covers foreign sessions (the driver creates a vanilla one).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The bare parquet scan behind :func:`table` (no cache gate)."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        _pin_nanos_confs(spark)
    return _read(spark, sf_dir, name)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The parquet read of table ``name``, its nanos confs already pinned."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return normalize_nanos_ts(df) if name == "events" else df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Bare ``spark.read.parquet`` so predicates
    and projections declared downstream reach the scan (PushedFilters /
    ReadSchema). Under ``HARMONY_CACHE_TABLES=1`` returns the session's
    in-memory copy from the session store instead — built, on the first
    read of any table of ``sf_dir``, for every table of the dataset at
    once (one repartition + persist + count per table, the tables
    concurrently), then one dict lookup per call.  Pushdown is moot
    against an InMemoryTableScan, and every query after the first skips
    the parquet decode entirely.

    ``events.ts`` is physically TIMESTAMP(NANOS); see
    :func:`normalize_nanos_ts` for the version-adaptive handling.
    """
    if _cache_enabled():
        return _cached_table(spark, sf_dir, name)
    return _scan(spark, sf_dir, name)


def ensure_parallelism(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer input
    splits than the session's parallelism. On a real 100 TB table the
    files already split past the core count, so this is a no-op there —
    the cluster plan never pays an exchange for it; locally it rescues
    CPU-heavy operators from serializing on a single small-file split."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + :func:`ensure_parallelism`.

    The testdata tables are single small parquet files, so Spark's
    size-based splitting yields ONE input partition; CPU-heavy per-row
    expressions (md5 chains, JSON parsing) then serialize on one core.
    On a real 100 TB table the files already split and the repartition
    gate passes the scan through untouched. Use only under compute-bound
    operators — plain scans stay on :func:`table` so pushdown isn't
    hidden behind an exchange.
    """
    if _cache_enabled():
        # the cached copy is already repartitioned to the session's
        # parallelism before persist — no second exchange
        return _cached_table(spark, sf_dir, name)
    return ensure_parallelism(spark, table(spark, sf_dir, name))


def write_time_partitioned(
    df: DataFrame, path: str, ts_col: str = "ts", day_col: str = "day"
) -> None:
    """Write a fact table date-partitioned by day — the 100 TB layout for
    time-range queries (ROADMAP: the normalize cast on ``events.ts``
    keeps row-group pushdown off the raw column, so day-level PARTITION
    pruning is what makes a ts-range predicate skip data at plan time).

    The repartition puts each day in one shuffle partition so the layout
    is one file per day instead of (input splits x days) fragments; at
    real scale widen it to ``repartition(n, day, salt)`` so a hot day
    splits across writers.
    """
    (
        df.withColumn(day_col, F.to_date(F.col(ts_col)))
        .repartition(F.col(day_col))
        .write.partitionBy(day_col)
        .mode("overwrite")
        .parquet(path)
    )


def events_by_day(spark: SparkSession, sf_dir: str, cache_root: str | None = None) -> DataFrame:
    """The events table in the day-partitioned layout, built once per
    sf_dir (memoized under ``cache_root``, default the system temp dir)
    and re-read from parquet so the ``day`` partition column exists at
    scan time — ``WHERE day ...`` predicates show up as PartitionFilters,
    not data filters."""
    import tempfile

    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        cache_root or tempfile.gettempdir(), f"harmony_events_byday_{base}"
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_time_partitioned(table(spark, sf_dir, "events"), path)
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all testdata tables as temp views for the SQL surface."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_any(spark: SparkSession, path: str, fmt: str | None = None, schema=None, **options) -> DataFrame:
    """Format-dispatching source: parquet / csv / json / orc behind one
    entry point, with the engine's conventions applied uniformly.

    * format inferred from the file extension when not given;
    * csv defaults to header + schema inference OFF (an explicit schema
      keeps the scan single-pass — inference reads the data twice, which
      at 100 TB means reading 100 TB twice); pass ``schema`` or
      ``inferSchema=True`` explicitly for exploration;
    * json is JSON-Lines (the only JSON layout that splits across
      workers; multiline JSON is a single-task read — refuse to default
      into that);
    * parquet TIMESTAMP(NANOS) columns get the same nanos handling as
      :func:`table` when present.
    """
    if fmt is None:
        ext = os.path.splitext(path.rstrip("/"))[1].lstrip(".").lower()
        fmt = {"pq": "parquet"}.get(ext, ext) or "parquet"
    fmt = fmt.lower()
    if fmt == "parquet":
        _pin_nanos_confs(spark)
        # unconditional: normalize_nanos_ts no-ops on non-nanos dtypes,
        # and branching here left the Spark-4.x timestamp_ntz case
        # un-normalized — the same events file behaved differently via
        # read_any vs table()
        return normalize_nanos_ts(spark.read.options(**options).parquet(path))
    if fmt == "csv":
        reader = spark.read.options(header="true", **options)
        if schema is not None:
            reader = reader.schema(schema)
        elif not options.get("inferSchema"):
            raise ValueError(
                "csv without a schema: pass schema=... (single-pass scan) "
                "or inferSchema=True explicitly (double read, exploration only)"
            )
        return reader.csv(path)
    if fmt == "json":
        reader = spark.read.options(**options)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(path)
    if fmt == "orc":
        return spark.read.options(**options).orc(path)
    raise ValueError(f"unsupported format {fmt!r}; expected parquet/csv/json/orc")


def read_text_corpus(
    spark: SparkSession,
    path: str,
    whole_files: bool = False,
    min_chars: int = 1,
) -> DataFrame:
    """Raw-text ingest for LLM corpora: ``(file, text)`` rows.

    Two layouts exist in the wild and they parallelize differently:

    * line mode (default) — one record per line; the ONLY text layout
      that splits WITHIN a file, so a single 1 TB shard still fans out
      across the cluster. Use for JSONL-adjacent / one-doc-per-line
      dumps (the Common-Crawl-derivative convention).
    * ``whole_files=True`` — one record per FILE (``wholetext``); the
      layout for document-per-file corpora (books, repos). NOT
      splittable: parallelism == number of files, so a million small
      files is the good case here and one giant file is the failure
      mode — the opposite economics of line mode, which is why the
      choice is an explicit argument and not an inference.

    ``file`` comes from ``input_file_name()`` so downstream dedup /
    provenance can key on origin; empty/short records are dropped at
    the scan (pushed filter). Content-keyed ids (``md5(text)``) are the
    caller's choice — the exact-dedup operators (q30/q41) derive them
    anyway.
    """
    # the wholetext switch must go through the text() kwarg — PySpark's
    # DataFrameReader.text() re-sets the option from its own parameter,
    # silently overriding a reader-level .option("wholetext", ...)
    return (
        spark.read.text(path, wholetext=whole_files)
        .select(
            F.input_file_name().alias("file"),
            F.col("value").alias("text"),
        )
        .where(F.length("text") >= min_chars)
    )


def read_epochs(spark: SparkSession, epoch_paths: list[str], target_schema) -> DataFrame:
    """Schema-evolution read: union data written at different schema
    epochs, conformed to ``target_schema``.

    A 100 TB table is never one schema — columns get added, types get
    widened, and history is not rewritten. Parquet's ``mergeSchema``
    cannot express this (it errors on widened types and yields the
    union of columns with no defaults policy); the robust pattern is
    epoch-wise conforming: read each epoch with its OWN footer schema,
    then project onto the target — present columns CAST to the target
    type (widening int->long, float->double), absent columns as typed
    NULLs — and unionByName. Each epoch stays an independent
    partition-pruned scan; the union adds no shuffle.

    Unknown columns (present on disk, absent from target) are dropped:
    the target schema is the contract, and readers must not silently
    grow columns because one epoch had an experiment.
    """
    if not epoch_paths:
        raise ValueError("read_epochs requires at least one epoch path")
    parts = []
    for p in epoch_paths:
        df = spark.read.parquet(p)
        have = {f.name: f for f in df.schema.fields}
        cols = []
        for f in target_schema.fields:
            if f.name in have:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        parts.append(df.select(*cols))
    out = parts[0]
    for nxt in parts[1:]:
        out = out.unionByName(nxt)
    return out


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """JSON-Lines ingest with a dead-letter channel: returns
    ``(good, quarantined)``.

    PERMISSIVE parsing keeps malformed lines instead of failing the
    1000-executor job 6 hours in (FAILFAST) or silently dropping data
    (DROPMALFORMED): rows that do not parse against ``schema`` carry
    their raw line in a corrupt-record column, and the caller writes
    that channel to a quarantine sink for replay after the producer is
    fixed. The split is a pure filter — one scan, no shuffle; Spark
    requires the corrupt column to be part of the read schema, hence
    the temporary ``_corrupt`` field dropped from the good side.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    aug = StructType(list(schema.fields) + [StructField("_corrupt", StringType())])
    df = (
        spark.read.schema(aug)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        # caching before the filter split is the documented workaround for
        # Spark's lazy-parse restriction on referencing the corrupt column
        .cache()
    )
    good = df.where(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = df.where(F.col("_corrupt").isNotNull()).select(
        F.col("_corrupt").alias("raw_line")
    )
    return good, bad

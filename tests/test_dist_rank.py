"""Property tests for the two-phase sharded global-order primitives
(`harmony_spark.operators.dist_rank`): every helper must EXACTLY match
the single-task `Window.orderBy(...)` it replaces, on randomized inputs
with heavy ties, and its plan must contain no empty-partition Window."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from harmony_spark.operators.dist_rank import (
    with_global_ntile,
    with_global_order_stats,
    with_global_rank,
)


def _rows(seed: int, n: int = 700):
    rng = random.Random(seed)
    return [
        (i, "src%d" % rng.randint(0, 3), rng.randint(0, 40), rng.randint(1, 9))
        for i in range(n)
    ]


def _no_global_window(df):
    plan = df._jdf.queryExecution().optimizedPlan()

    def walk(node):
        if (
            node.getClass().getSimpleName() == "Window"
            and node.partitionSpec().isEmpty()
        ):
            raise AssertionError("empty-partition Window in sharded plan")
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(plan)


def test_row_number_and_rank_match_global_window(spark):
    df = spark.createDataFrame(
        _rows(1), "id long, src string, v long, c long"
    )
    got, total = with_global_rank(df, "v", ("id",), out="rn")
    assert total == 700
    _no_global_window(got)
    exp = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("v", "id")).cast("long")
    )
    assert {(r.id, r.rn) for r in got.collect()} == {
        (r.id, r.rn) for r in exp.collect()
    }

    got2, _ = with_global_rank(df, "v", (), kind="rank", out="r")
    exp2 = df.withColumn(
        "r", F.rank().over(Window.orderBy("v")).cast("long")
    )
    assert {(r.id, r.r) for r in got2.collect()} == {
        (r.id, r.r) for r in exp2.collect()
    }


def test_ntile_matches_for_all_bucket_counts(spark):
    """Exact NTILE parity including n > N (each row its own bucket) and
    descending keys via negation."""
    df = spark.createDataFrame(
        _rows(2, 203), "id long, src string, v long, c long"
    )
    for n in (3, 7, 10, 203, 500):
        got = with_global_ntile(
            df.withColumn("neg", -F.col("v")), "neg", ("id",), n=n, out="t"
        )
        exp = df.withColumn(
            "t", F.ntile(n).over(Window.orderBy(F.desc("v"), "id"))
        )
        assert {(r.id, r.t) for r in got.collect()} == {
            (r.id, r.t) for r in exp.collect()
        }, n


def test_partitioned_rank_and_count_col(spark):
    df = spark.createDataFrame(
        _rows(3), "id long, src string, v long, c long"
    )
    got, total = with_global_rank(
        df, "v", ("id",), partition_by=("src",), out="rn", count_col="n"
    )
    assert total == 700
    exp = df.select(
        "id",
        F.row_number()
        .over(Window.partitionBy("src").orderBy("v", "id"))
        .cast("long")
        .alias("rn"),
        F.count("*").over(Window.partitionBy("src")).cast("long").alias("n"),
    )
    assert {(r.id, r.rn, r.n) for r in got.select("id", "rn", "n").collect()} == {
        (r.id, r.rn, r.n) for r in exp.collect()
    }


def test_order_stats_running_sums_and_totals(spark):
    df = spark.createDataFrame(
        _rows(4), "id long, src string, v long, c long"
    )
    got, totals = with_global_order_stats(
        df, "v", ("id",), rank_col="rn", sum_cols={"c": "cum_c"}
    )
    _no_global_window(got)
    w = Window.orderBy("v", "id")
    exp = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("rn"),
        F.sum("c")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_c"),
    )
    assert {
        (r.id, r.rn, r.cum_c) for r in got.select("id", "rn", "cum_c").collect()
    } == {(r.id, r.rn, r.cum_c) for r in exp.collect()}
    assert totals["rows"] == 700
    assert totals["c"] == sum(r[3] for r in _rows(4))


def test_single_distinct_value_and_empty(spark):
    one = spark.createDataFrame(
        [(i, 5) for i in range(20)], "id long, v long"
    )
    g, tot = with_global_rank(one, "v", ("id",), out="rn")
    assert tot == 20
    assert sorted(r.rn for r in g.collect()) == list(range(1, 21))

    empty = one.where(F.lit(False))
    g2, tot2 = with_global_rank(empty, "v", ("id",), out="rn")
    assert tot2 == 0 and g2.count() == 0


def test_stats_cache_hit_is_equal_and_skips_actions(spark, monkeypatch):
    """The (bounds, counts) statistics cache: a repeated call with the
    SAME input plan must return identical ranks (warm path, zero
    boundary/count actions) and must register exactly one cache entry;
    a localCheckpoint-derived input (LogicalRDD leaf — unstable plan
    identity) must NOT be auto-cached unless the caller passes an
    explicit stats_token.  Entries are counted in the session store."""
    from harmony_spark import io as hio
    from harmony_spark.operators import dist_rank as dr

    def n_stats() -> int:
        return sum(1 for k in hio._STORE if k[1] == "rank_stats")

    df = hio.table(spark, "/root/testdata/sf0.001", "orders").select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("v")
    )
    before = n_stats()
    cold, tot1 = with_global_rank(df, "v", ("id",), out="rn")
    cold_rows = {(r.id, r.rn) for r in cold.collect()}
    assert n_stats() == before + 1
    with monkeypatch.context() as m:
        # warm path: no boundary (or count) action may run
        m.setattr(dr, "_range_bounds", lambda *a: pytest.fail("stats action"))
        warm, tot2 = with_global_rank(df, "v", ("id",), out="rn")
    assert tot2 == tot1
    assert {(r.id, r.rn) for r in warm.collect()} == cold_rows
    assert n_stats() == before + 1  # hit, not a second entry

    ckpt = df.localCheckpoint(eager=False)
    _, tot4 = with_global_rank(ckpt, "v", ("id",), out="rn")
    assert tot4 == tot1
    assert n_stats() == before + 1  # RDD leaf: not cacheable

    tok, tot5 = with_global_rank(
        ckpt, "v", ("id",), out="rn", stats_token=("t", "x")
    )
    assert tot5 == tot1
    assert {(r.id, r.rn) for r in tok.collect()} == cold_rows
    assert n_stats() == before + 2  # explicit token cached

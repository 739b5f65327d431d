"""The session store in ``harmony_spark.io``.

HARMONY_CACHE_TABLES=1 (the bench's warm-input mode) must be a pure
performance knob: identical rows to the bare-scan path, one materialized
copy per (session, sf_dir, table), and an InMemoryTableScan in the plan.
Every entry is keyed per session, with dataset paths normalized, and
entries of stopped sessions are swept.
"""

import os

import pytest
from pyspark.sql import DataFrame

from harmony_spark import io as hio


@pytest.fixture()
def cache_env(monkeypatch):
    monkeypatch.setenv("HARMONY_CACHE_TABLES", "1")
    yield
    # empty the whole store so later tests see a cold session
    for value in hio._STORE.values():
        if isinstance(value, DataFrame):
            value.unpersist()
    hio._STORE.clear()


SF = "/root/testdata/sf0.001"


def test_cached_rows_match_bare_scan(spark, cache_env):
    cached = hio.table(spark, SF, "orders")
    assert "InMemoryTableScan" in cached._jdf.queryExecution().executedPlan().toString()
    got = sorted(tuple(r) for r in cached.collect())
    os.environ.pop("HARMONY_CACHE_TABLES")
    bare = hio.table(spark, SF, "orders")
    assert "InMemoryTableScan" not in bare._jdf.queryExecution().executedPlan().toString()
    assert got == sorted(tuple(r) for r in bare.collect())


def test_cache_is_per_table_singleton(spark, cache_env):
    a = hio.table(spark, SF, "customer")
    b = hio.table_parallel(spark, SF, "customer")
    assert a is b  # table and table_parallel share one cached copy


def test_cached_events_ts_normalized(spark, cache_env):
    ev = hio.table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0


def test_session_memo_builds_once_per_dataset(spark, cache_env):
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    rel = os.path.relpath(SF)
    assert rel != SF
    first = hio.session_memo(spark, ("test_memo", SF), build)
    assert hio.session_memo(spark, ("test_memo", rel), build) is first
    assert len(builds) == 1
    assert first.count() == 3
    # the table cache shares the key builder: one copy per dataset
    assert hio.table(spark, rel, "region") is hio.table(spark, SF, "region")

    os.environ["HARMONY_CACHE_TABLES"] = "0"
    hio.session_memo(spark, ("test_memo", SF), build)
    hio.session_memo(spark, ("test_memo", SF), build)
    assert len(builds) == 3  # flag off: every call builds


def test_stale_session_entries_are_swept(spark, cache_env):
    dead = {
        ("app-stopped", "table", os.path.abspath(SF), "orders"): spark.range(1),
        ("app-stopped", "lsh_pairs", os.path.abspath(SF)): spark.range(1),
        ("app-stopped", "rank_stats", 123, "rank"): ([1.0], [(0, 5)]),
    }
    hio._STORE.update(dead)
    live = hio.session_value(spark, ("test_value", SF), lambda: 42)
    assert live == 42
    assert not set(dead) & set(hio._STORE)
    app_id = spark.sparkContext.applicationId
    assert (app_id, "test_value", os.path.abspath(SF)) in hio._STORE


def test_copurchase_orientation_is_stored_once(spark, cache_env):
    """The orientation builds (degree census, oriented edges, out-
    adjacency) are materialized when built, so the store keeps them as
    they are: after one q292 call the block store lists each once, and
    no checkpoint copy sits next to them."""
    from harmony_spark.registry import load_all

    def storage():
        return list(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = {i.id() for i in storage()}  # blocks earlier tests left behind
    load_all()["q292_triangle_count"].fn(spark, SF).collect()
    infos = [i for i in storage() if i.id() not in before]
    names = [i.name() for i in infos]
    assert sum("count(1)" in n for n in names) == 1  # the degree census
    assert sum("collect_list" in n for n in names) == 1  # the adjacency
    oriented = hio._STORE[hio._store_key(spark, ("copurchase_oriented", SF))]
    rdd_id = oriented._jdf.queryExecution().logical().rdd().id()
    assert [i.id() for i in infos].count(rdd_id) == 1
    # checkpointed RDDs: the memoized pair set, the oriented edges and
    # the triangle witnesses, nothing else
    assert names.count("MapPartitionsRDD") == 3, names

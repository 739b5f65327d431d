"""The session store in ``harmony_spark.io``.

HARMONY_CACHE_TABLES=1 (the bench's warm-input mode) must be a pure
performance knob: identical rows to the bare-scan path, one materialized
copy per (session, sf_dir, table), and an InMemoryTableScan in the plan.
The cache's unit is the dataset: the first read of any table builds
every table of its sf_dir concurrently, under the caller's job group,
into one store entry. Every entry is keyed per session, with dataset
paths normalized, and entries of stopped sessions are swept.
"""

import os
import shutil

import pytest
from pyspark.sql import DataFrame

from harmony_spark import io as hio


@pytest.fixture()
def cache_env(monkeypatch):
    monkeypatch.setenv("HARMONY_CACHE_TABLES", "1")
    yield
    # empty the whole store so later tests see a cold session (and the
    # plan guards bare scans, not cached copies of them)
    for value in hio._STORE.values():
        for df in value.values() if isinstance(value, dict) else [value]:
            if isinstance(df, DataFrame):
                df.unpersist()
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
        ("app-stopped", "tables", os.path.abspath(SF)): {"orders": spark.range(1)},
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


def _table_entries(spark) -> list[tuple]:
    app = spark.sparkContext.applicationId
    return [k for k in hio._STORE if k[0] == app and k[1] in ("table", "tables")]


def test_dataset_is_one_entry_and_later_reads_submit_no_jobs(spark, cache_env):
    hio.table(spark, SF, "region")
    assert _table_entries(spark) == [hio._store_key(spark, ("tables", SF))]
    sc = spark.sparkContext
    group = "test-dataset-cache-lookups"
    sc.setJobGroup(group, "reads after the first")
    try:
        for name in hio.TABLES:
            hio.table(spark, SF, name)
            hio.table_parallel(spark, SF, name)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert len(_table_entries(spark)) == 1
    with pytest.raises(ValueError, match="unknown table"):
        hio.table(spark, SF, "no_such_table")


def test_dataset_build_runs_under_the_callers_job_group(spark, cache_env):
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    group = "test-dataset-cache-build"
    sc.setJobGroup(group, "first read")
    try:
        hio.table(spark, SF, "orders")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # every table was built, each with at least its count job, and no
    # build job escaped the group (threads start with no local properties)
    (tables,) = (hio._STORE[k] for k in _table_entries(spark))
    assert set(tables) == set(hio.TABLES)
    assert len(jobs) >= len(hio.TABLES)
    assert not set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped


def test_a_broken_table_fails_only_its_own_reads(spark, cache_env, tmp_path):
    for name in hio.TABLES:
        shutil.copyfile(f"{SF}/{name}.parquet", tmp_path / f"{name}.parquet")
    (tmp_path / "nation.parquet").unlink()
    truncated = tmp_path / "supplier.parquet"
    truncated.write_bytes(truncated.read_bytes()[:1000])
    sf = str(tmp_path)

    missing = "(?i)path does not exist|PATH_NOT_FOUND"
    with pytest.raises(Exception, match=missing):
        hio.table(spark, sf, "nation")  # the first read builds the rest
    (tables,) = (hio._STORE[k] for k in _table_entries(spark))
    assert set(tables) == set(hio.TABLES) - {"nation", "supplier"}
    for _ in range(2):  # retried on each read, never stored
        with pytest.raises(Exception, match="(?i)parquet"):
            hio.table(spark, sf, "supplier")
        with pytest.raises(Exception, match=missing):
            hio.table_parallel(spark, sf, "nation")
    assert set(tables) == set(hio.TABLES) - {"nation", "supplier"}
    os.environ["HARMONY_CACHE_TABLES"] = "0"
    bare = hio.table(spark, SF, "orders").count()
    os.environ["HARMONY_CACHE_TABLES"] = "1"
    assert hio.table(spark, sf, "orders") is tables["orders"]
    assert tables["orders"].count() == bare

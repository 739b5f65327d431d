"""Tests of the benchmark's own arithmetic and its declared contract.

    python3 -m pytest perfbench/test_perfbench.py -q

Needs no Spark session.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pytest

from perfbench import cells, run
from perfbench.trace import (
    Span, canon, hash_rows, job_totals, Job, median, rows_match, self_times, subtree,
    tail_percentile, union_length,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_union_length_counts_overlap_once():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3)]) == 3.0
    assert union_length([(0, 5), (1, 2), (3, 4)]) == 5.0
    assert union_length([(2, 3), (0, 1), (0.5, 2.5)]) == 3.0
    assert union_length([(1, 1), (3, 2)]) == 0.0  # empty and reversed intervals


def _span(i, start, end, parent=None, name="s"):
    return Span(i, name, start, parent, "r", end=end)


def test_self_times_add_up_to_root_wall():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 2.0, 3.0, parent=1),
        _span(3, 5.0, 9.0, parent=0),
        _span(4, 20.0, 21.0),  # another tree
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0, 4: 1.0}
    tree = subtree(spans, 0)
    assert [s.id for s in tree] == [0, 1, 2, 3]
    assert math.isclose(sum(st[s.id] for s in tree), 10.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, 0.0, 2.0), _span(1, 1.0, 3.0, parent=0)]
    assert self_times(spans)[0] == 1.0


def test_job_totals_union_wall_and_sums():
    jobs = [Job(0, "1", 0.0, 2.0, stages=1, tasks=4, run_s=3.0), Job(1, "1", 1.0, 3.0, stages=2, tasks=1, run_s=1.0)]
    t = job_totals(jobs)
    assert t["jobs"] == 2 and t["job_wall_s"] == 3.0
    assert t["stages"] == 3 and t["tasks"] == 5 and t["run_s"] == 4.0


def test_percentile_choice():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0]) == 1.5
    # the highest percentile with at least ten samples beyond it
    assert tail_percentile(9) is None
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_hash_comparator():
    a = [(1, 2.0, "x"), (None, float("nan"), "y")]
    b = [(None, float("nan"), "y"), (1, 2, "x")]
    assert hash_rows(a) == hash_rows(b)  # order-insensitive, 2.0 == 2
    assert hash_rows([(0.1 + 0.2,)]) == hash_rows([(0.3,)])  # rounded to 9 places
    assert hash_rows([(1.0000001,)]) != hash_rows([(1.0,)])
    assert hash_rows([(1, 2)]) != hash_rows([(1,), (2,)])
    assert canon(True) == "1" and canon(None) == "NULL" and canon(1e20) == repr(1e20)


def test_rows_match_tolerates_one_unit_in_the_last_printed_digit():
    a = [("O", "N", 213254375.04, 4233), ("F", "A", 0.5, 1)]
    assert rows_match(a, [("F", "A", 0.5, 1), ("O", "N", 213254375.03, 4233)])
    assert not rows_match(a, [("O", "N", 213254375.02, 4233), ("F", "A", 0.5, 1)])
    assert not rows_match(a, [("O", "N", 213254375.04, 4233), ("F", "B", 0.5, 1)])
    assert not rows_match(a, a[:1])
    assert rows_match([(0.734,)], [(0.735,)]) and not rows_match([(0.734,)], [(0.744,)])
    assert rows_match([(2.0,)], [(2,)])


def test_cells_are_seeded_and_blockwise():
    Z1, b1 = cells.numpy_cells(3, 5, 25_000)
    Z2, b2 = cells.numpy_cells(3, 5, 25_000)
    assert Z1.shape == (25_000, 5) and Z1.dtype == np.float32
    assert np.array_equal(Z1, Z2) and np.array_equal(b1, b2)
    ids, Zb, bb = cells.block(3, 5, 25_000, 2)
    assert ids[0] == 20_000 and len(ids) == 5_000
    assert np.array_equal(Zb, Z1[20_000:])
    assert not np.array_equal(cells.numpy_cells(4, 5, 1000)[0], Z1[:1000])
    # imbalanced batches: every batch present, the largest over twice the smallest
    counts = np.bincount(b1)
    assert len(counts) == 4 and counts.max() > 2 * counts.min()


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


@pytest.mark.parametrize("sf", [0.001])
def test_tables_cover_every_source_table(tmp_path, sf):
    from perfbench import tables

    tables.write(str(tmp_path), 1, sf)
    import pyarrow.parquet as pq

    for name in tables.TABLES:
        assert pq.ParquetFile(tmp_path / f"{name}.parquet").metadata.num_rows > 0
    emb = pq.read_table(tmp_path / "embeddings.parquet").column("embedding").to_pylist()
    assert np.allclose(np.linalg.norm(np.array(emb), axis=1), 1.0, atol=1e-5)

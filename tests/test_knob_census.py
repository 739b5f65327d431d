"""Knob census: the ``HARMONY_*`` environment variables the engine,
``bench.py`` and the test fixtures read.  Adding a knob fails here
until this list and ROADMAP.md's knob list change together."""

import ast
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent

KNOBS = {
    "HARMONY_ALS_FUSE_ROWS",
    "HARMONY_CACHE_TABLES",
    "HARMONY_DRIVER_MEM",
    "HARMONY_MIRROR_DIR",
    "HARMONY_SCALAR_DOUBLE",
    "HARMONY_BENCH_DUCKDB",
    "HARMONY_BENCH_DUCKDB_TIMEOUT",
    "HARMONY_BENCH_RUNS",
    "HARMONY_TEST_SF_DIR",
}


def _knobs_read(path: pathlib.Path) -> set[str]:
    # every env read names its variable as a string literal
    return {
        node.value
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and re.fullmatch(r"HARMONY_[A-Z0-9_]+", node.value)
    }


def test_harmony_env_knobs_are_pinned():
    files = [
        *sorted((REPO / "harmony_spark").rglob("*.py")),
        REPO / "bench.py",
        REPO / "tests" / "conftest.py",
    ]
    found = set().union(*(_knobs_read(f) for f in files))
    assert found == KNOBS

"""The zip directory cache of ``harmony_spark.worker_startup``: an
unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a rewritten one is (the property PySpark's per-task call exists for:
pyFiles shipped between tasks), and Spark's Python workers have it
while other processes keep zipimport as it is."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from harmony_spark.worker_startup import install_zip_directory_cache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport re-reads lazily since Python 3.13; the wrapper is inert there",
)

PKG = "zipcache_probe_pkg"
FILES = {
    f"{PKG}/__init__.py": "",
    f"{PKG}/a/__init__.py": "",
    f"{PKG}/a/x.py": "X = 1\n",
    f"{PKG}/b/__init__.py": "",
    f"{PKG}/b/y.py": "Y = 2\n",
}


def _write(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding a package with two subpackages, on sys.path and
    imported, so several importer entries exist for it.  zipimport's
    own invalidate_caches is restored afterwards."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    path = tmp_path / "shipped.zip"
    _write(path, FILES)
    monkeypatch.syspath_prepend(str(path))
    importlib.import_module(f"{PKG}.a.x")
    importlib.import_module(f"{PKG}.b.y")
    yield str(path)
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(str(path))]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(str(path), None)


def _count_reads(monkeypatch) -> list:
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    entries = [
        v for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == archive
    ]
    assert len(entries) >= 3  # the archive root and each package directory
    assert install_zip_directory_cache()
    wrapper = zipimport.zipimporter.invalidate_caches
    assert install_zip_directory_cache()
    assert zipimport.zipimporter.invalidate_caches is wrapper  # a second install is a no-op
    # the first call reads the archive once: the wrapper has no stat for
    # the read that created the importers
    importlib.invalidate_caches()
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == []
    assert importlib.import_module(f"{PKG}.a.x").X == 1


def test_rewritten_archive_is_reread(archive, monkeypatch):
    install_zip_directory_cache()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module(f"{PKG}.a.z")
    # a module added: the archive's size changes
    _write(archive, {**FILES, f"{PKG}/a/z.py": "Z = 3\n"})
    calls = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert calls.count(archive) == 1  # one read, shared by every entry
    assert importlib.import_module(f"{PKG}.a.z").Z == 3


def test_spark_worker_has_the_wrapper(spark):
    """A mapInArrow function that references a harmony_spark function
    makes the worker import the package, which installs the wrapper."""
    import pyarrow as pa

    from harmony_spark.core.kernels import _list_array

    def probe(it):
        import zipimport

        assert _list_array is not None
        for _ in it:
            pass
        installed = getattr(zipimport.zipimporter.invalidate_caches, "stat_keyed", False)
        yield pa.RecordBatch.from_pydict({"installed": [installed]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "installed boolean").collect()
    assert [r["installed"] for r in rows] == [True]


def test_other_processes_keep_zipimport():
    """Outside a Spark worker, importing the package leaves zipimport
    as it is (checked in a fresh interpreter, which no test has touched)."""
    probe = (
        "import zipimport, harmony_spark; "
        "print(getattr(zipimport.zipimporter.invalidate_caches, 'stat_keyed', False))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert out.stdout.strip() == "False"

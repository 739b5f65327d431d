"""Python-worker start-up cost: the zip directory rescan.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``), so that pyFiles
shipped since the last task become importable.  Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, and the path importer cache holds one zipimporter per
package directory imported from an archive.  A worker that imported
PySpark from ``pyspark.zip`` thus re-reads its directory once per such
entry on every task (PySpark 4.1.2 on CPython 3.11: 1,328 entries, 14
times, ~0.1 s).  Python 3.13 made the call lazy (the next lookup
re-reads), so there the wrapper is not installed.

Import-light on purpose (no pyspark): the package ``__init__`` installs
it when it is imported in a Spark Python worker, so every worker that
unpickles one of this package's functions has it from then on; any
other process keeps zipimport unchanged.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install_zip_directory_cache() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` changed
    since this process last read it through the wrapper; otherwise it
    rebinds the cached directory.  Idempotent.  Returns whether the
    wrapper is installed (never on Python 3.13+)."""
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "stat_keyed", False):
        return True
    reread = cls.invalidate_caches
    read_at: dict[str, tuple[int, int] | None] = {}  # archive -> its stat when last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: an archive rewritten during it is re-read
        # next time, because its stat no longer matches
        reread(self)
        read_at[self.archive] = key

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches
    return True

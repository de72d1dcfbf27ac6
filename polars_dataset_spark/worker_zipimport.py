"""Stat-checked ``zipimporter.invalidate_caches`` for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files`` in ``pyspark/worker_util.py``). Before
CPython 3.13, ``zipimporter.invalidate_caches`` eagerly re-reads its
archive's whole central directory, and a worker holds about 16 zip
importers (``pyspark.zip`` and its subpackages, the Spark core jar,
py4j), so every task pays ~0.1 s of CPU re-reading archives that did not
change. With :func:`install`, an importer re-reads its archive only when
the archive's ``(st_mtime_ns, st_size, st_ino)`` changed since that
importer last read it.

The package import installs it in worker processes only (``pyspark.worker``
is imported there and not in the driver), and only before 3.13, whose
invalidation is already lazy.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """Re-read the archive only when it changed on disk since this
    importer last read it (always, when it cannot be stat'ed)."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _eager_invalidate(self)
        self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in a PySpark worker before
    CPython 3.13; anywhere else, do nothing."""
    if sys.version_info < (3, 13) and "pyspark.worker" in sys.modules:
        zipimport.zipimporter.invalidate_caches = invalidate_caches

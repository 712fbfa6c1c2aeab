"""Per-task cost guard for PySpark Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
EVERY task (``pyspark.worker_util.setup_spark_files``). On CPython
3.10-3.12 ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive, and a reused worker holds one
zipimporter per imported package of ``pyspark.zip`` plus the py4j zip
and the spark-core jar — so every task re-parses all of those archive
directories before any user code runs (~200 ms of CPU per task,
measured on a 4-core VM with CPython 3.11 and Spark 4.1). No Spark conf
skips the call.

:func:`install` wraps the method so that an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size)`` changed since
that importer's last read. A rewritten archive is still picked up on
the next ``importlib.invalidate_caches()``. CPython 3.13 made the method
lazy itself, so nothing is wrapped there. The package ``__init__``
calls :func:`install`; every pickled kernel or datapipe closure imports
the package in the worker, so the first task of a reused worker installs
the guard for every later task in that process.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

#: attribute set on the wrapper function (``zipimporter.invalidate_caches``)
MARKER = "_scalecast_stat_guard"

_STAMP = "_scalecast_archive_stamp"


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` with the stat check.

    Returns True when this call installed the wrapper; False on
    CPython >= 3.13 (already lazy) or when it is already installed."""
    if sys.version_info >= (3, 13):
        return False
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, MARKER, False):
        return False

    @functools.wraps(original)
    def invalidate_caches(self):
        # stamp BEFORE the read: a rewrite racing the read changes the
        # stamp again, so the next call re-reads
        stamp = _archive_stamp(self.archive)
        if stamp is not None and getattr(self, _STAMP, None) == stamp:
            return
        original(self)
        setattr(self, _STAMP, stamp)

    setattr(invalidate_caches, MARKER, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True

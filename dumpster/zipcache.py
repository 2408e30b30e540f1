"""Stat-keyed zip-archive cache invalidation for PySpark Python workers.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task and every DataSource planner call
(``pyspark/worker_util.py::setup_spark_files``).  On CPython 3.10-3.12
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads its
archive's central directory, once per importer instance.  A reused worker
holds about a dozen importers on ``pyspark.zip`` and two on the Spark
core jar, so each task re-parses those archives for 0.1-0.2 s before any
user code runs.  CPython 3.13 made the invalidation lazy (marked by
``zipimporter._get_files``); this module gives the older interpreters a
cheap equivalent: re-read an archive only when its ``os.stat`` key
changed since the importer last read it.
"""

from __future__ import annotations

import os
import zipimport

_KEY_ATTR = "_dumpster_stat_key"
_MARK = "_dumpster_stat_keyed"


def install_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    The replacement stats the archive and re-reads it (through the stock
    method) only when ``(st_mtime_ns, st_size, st_ino)`` differs from the
    key recorded on that importer at its last re-read; when ``stat``
    fails it clears the key and delegates.  Nothing is patched when the
    class already has the lazy ``_get_files`` design, or when the hook
    is already installed.  Returns True when it patched the class.
    """
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls.invalidate_caches, _MARK):
        return False
    stock = cls.invalidate_caches

    def invalidate_caches(self):
        """Reload the archive's file data if its stat key changed."""
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop(_KEY_ATTR, None)
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if self.__dict__.get(_KEY_ATTR) == key:
            return None
        # stat before the read: a rewrite racing the read leaves an
        # older key, which only costs one more re-read next time
        stock(self)
        setattr(self, _KEY_ATTR, key)
        return None

    setattr(invalidate_caches, _MARK, True)
    invalidate_caches.__wrapped__ = stock
    cls.invalidate_caches = invalidate_caches
    return True

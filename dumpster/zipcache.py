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
changed since the importer last read it, and then only once per process.
The first importer to see a new key re-reads the archive; every other
importer of that archive takes the shared ``_zip_directory_cache`` entry
that read left, so a process's first hooked call reads each archive once
instead of once per importer (3 reads instead of 16 in a PySpark worker).
"""

from __future__ import annotations

import os
import zipimport

_KEY_ATTR = "_dumpster_stat_key"
_MARK = "_dumpster_stat_keyed"
# archive -> stat key of this process's last successful stock read
_ARCHIVE_KEYS: dict[str, tuple[int, int, int]] = {}


def install_zip_invalidation() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    The replacement stats the archive and does nothing when
    ``(st_mtime_ns, st_size, st_ino)`` equals the key recorded on that
    importer.  Otherwise, if another importer already re-read the archive
    under this key, it adopts that read's ``_zip_directory_cache`` entry;
    if not, it re-reads through the stock method and records the key for
    the archive.  A failed ``stat`` or read leaves no archive key, and a
    failed ``stat`` also clears the importer's key and delegates.  Nothing
    is patched when the class already has the lazy ``_get_files`` design,
    or when the hook is already installed.  Returns True when it patched
    the class.
    """
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or hasattr(cls.invalidate_caches, _MARK):
        return False
    stock = cls.invalidate_caches

    def invalidate_caches(self):
        """Reload the archive's file data if its stat key changed."""
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            self.__dict__.pop(_KEY_ATTR, None)
            _ARCHIVE_KEYS.pop(archive, None)
            return stock(self)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if self.__dict__.get(_KEY_ATTR) == key:
            return None
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and _ARCHIVE_KEYS.get(archive) == key:
            self._files = files
        else:
            # stat before the read: a rewrite racing the read leaves an
            # older key, which only costs one more re-read next time
            _ARCHIVE_KEYS.pop(archive, None)
            stock(self)
            # the stock method drops the archive's entry when the read fails
            if archive in zipimport._zip_directory_cache:
                _ARCHIVE_KEYS[archive] = key
        setattr(self, _KEY_ATTR, key)
        return None

    setattr(invalidate_caches, _MARK, True)
    invalidate_caches.__wrapped__ = stock
    cls.invalidate_caches = invalidate_caches
    return True

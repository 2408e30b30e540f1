"""Stat-keyed zip-archive cache invalidation (``dumpster.zipcache``).

PySpark runs ``importlib.invalidate_caches()`` at the start of every
Python task; importing dumpster must make that skip unchanged zip
archives while still seeing rewritten and deleted ones.
"""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import dumpster


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _count_reads(monkeypatch, archive):
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _zip_modules(tmp_path, monkeypatch, n):
    """An archive on sys.path holding the first of ``n`` fresh module names."""
    names = [f"zc_{uuid.uuid4().hex[:12]}" for _ in range(n)]
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, names[:1])
    monkeypatch.syspath_prepend(archive)
    for name in names:
        monkeypatch.delitem(sys.modules, name, raising=False)
    return archive, names


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive, (a,) = _zip_modules(tmp_path, monkeypatch, 1)
    assert importlib.import_module(a).NAME == a
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()       # first one records the stat key
    n_first = len(reads)
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == n_first, "unchanged archive was re-read"
    assert importlib.import_module(a).NAME == a


def test_rewritten_archive_exposes_new_module(tmp_path, monkeypatch):
    archive, (a, b) = _zip_modules(tmp_path, monkeypatch, 2)
    importlib.import_module(a)
    importlib.invalidate_caches()
    _write_zip(archive, [a, b])
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert reads, "rewritten archive was not re-read"
    assert importlib.import_module(b).NAME == b


def test_deleted_archive_behaves_as_stock(tmp_path, monkeypatch):
    archive, (a, b) = _zip_modules(tmp_path, monkeypatch, 2)
    _write_zip(archive, [a, b])
    importlib.import_module(a)
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    try:
        importlib.import_module(b)
    except ImportError:
        pass
    else:
        raise AssertionError("module imported from a deleted archive")
    _write_zip(archive, [a, b])
    importlib.invalidate_caches()
    assert importlib.import_module(b).NAME == b


def test_install_does_not_wrap_twice():
    from dumpster.zipcache import install_zip_invalidation
    hook = zipimport.zipimporter.invalidate_caches
    assert install_zip_invalidation() is False
    importlib.reload(dumpster)
    importlib.reload(sys.modules["dumpster.zipcache"])
    assert sys.modules["dumpster.zipcache"].install_zip_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is hook
    assert hook.__wrapped__.__module__ == "zipimport"


def test_install_leaves_lazy_importer_untouched(monkeypatch):
    from dumpster.zipcache import install_zip_invalidation

    class LazyImporter:
        def _get_files(self):
            return {}

        def invalidate_caches(self):
            pass

    stock = LazyImporter.invalidate_caches
    monkeypatch.setattr(zipimport, "zipimporter", LazyImporter)
    assert install_zip_invalidation() is False
    assert LazyImporter.invalidate_caches is stock


def test_reused_worker_skips_unchanged_archives(spark):
    sc = spark.sparkContext
    n = 2 * sc.defaultParallelism

    def import_dumpster(_):
        import time

        import dumpster  # noqa: F401  (installs the hook in this worker)
        time.sleep(0.1)  # keep every slot busy so each idle worker runs one
        return []

    def count_rereads(_):
        # references nothing from dumpster, so unpickling this function
        # imports nothing: the hook is live only if an earlier task on
        # this worker imported dumpster
        import importlib as il
        import sys as s
        import zipimport as zi
        preloaded = "dumpster" in s.modules
        zipped = sum(isinstance(f, zi.zipimporter)
                     for f in s.path_importer_cache.values())
        real, reads = zi._read_directory, []
        zi._read_directory = lambda p: reads.append(p) or real(p)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        return [(preloaded, zipped, len(reads))]

    sc.parallelize(range(n), n).mapPartitions(import_dumpster).collect()
    got = sc.parallelize(range(n), n).mapPartitions(count_rereads).collect()
    reused = [g for g in got if g[0]]
    assert reused, f"no task ran on a worker that had imported dumpster: {got}"
    assert all(zipped > 0 for _, zipped, _ in reused), got
    assert all(reads == 0 for _, _, reads in reused), got

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
from dumpster import zipcache


def _write_zip(path, modules, package=None, submodules=()):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
        if package:
            z.writestr(f"{package}/__init__.py", "")
            for name in submodules:
                z.writestr(f"{package}/{name}.py", f"NAME = {name!r}\n")


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
    assert archive not in zipcache._ARCHIVE_KEYS
    try:
        importlib.import_module(b)
    except ImportError:
        pass
    else:
        raise AssertionError("module imported from a deleted archive")
    _write_zip(archive, [a, b])
    importlib.invalidate_caches()
    assert importlib.import_module(b).NAME == b


def _package_importers(tmp_path, monkeypatch):
    """An archive holding a module and a package, both imported, so two
    importers (the archive's and the package's) share the archive."""
    archive, (a, b, pkg) = _zip_modules(tmp_path, monkeypatch, 3)
    monkeypatch.delitem(sys.modules, f"{pkg}.m1", raising=False)
    monkeypatch.delitem(sys.modules, f"{pkg}.m2", raising=False)
    _write_zip(archive, [a], package=pkg, submodules=["m1"])
    importlib.invalidate_caches()
    importlib.import_module(a)
    importlib.import_module(f"{pkg}.m1")
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)
                 and f.archive == archive]
    assert len(importers) >= 2, importers
    for f in importers:         # as if this process had just imported dumpster
        f.__dict__.pop(zipcache._KEY_ATTR, None)
    zipcache._ARCHIVE_KEYS.pop(archive, None)
    return archive, importers, (a, b, pkg)


def test_first_round_reads_a_shared_archive_once(tmp_path, monkeypatch):
    archive, importers, _ = _package_importers(tmp_path, monkeypatch)
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1, f"{len(importers)} importers, {len(reads)} reads"
    importlib.invalidate_caches()
    assert len(reads) == 1, "unchanged archive was re-read"
    files = zipimport._zip_directory_cache[archive]
    assert all(f._files is files for f in importers)


def test_rewrite_reaches_every_importer_after_one_read(tmp_path, monkeypatch):
    archive, importers, (a, b, pkg) = _package_importers(tmp_path, monkeypatch)
    importlib.invalidate_caches()
    _write_zip(archive, [a, b], package=pkg, submodules=["m1", "m2"])
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == 1, f"{len(importers)} importers, {len(reads)} reads"
    assert importlib.import_module(b).NAME == b
    assert importlib.import_module(f"{pkg}.m2").NAME == "m2"


def test_unreadable_archive_leaves_no_shared_key(tmp_path, monkeypatch):
    archive, importers, (a, b, pkg) = _package_importers(tmp_path, monkeypatch)
    importlib.invalidate_caches()
    assert archive in zipcache._ARCHIVE_KEYS
    with open(archive, "wb") as f:      # stat succeeds, the read fails
        f.write(b"not a zip archive")
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    assert len(reads) == len(importers), "a failed read was shared"
    assert archive not in zipcache._ARCHIVE_KEYS
    assert archive not in zipimport._zip_directory_cache
    assert all(f._files == {} for f in importers)
    _write_zip(archive, [a, b], package=pkg, submodules=["m1", "m2"])
    importlib.invalidate_caches()
    assert importlib.import_module(b).NAME == b
    assert importlib.import_module(f"{pkg}.m2").NAME == "m2"


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


def test_fresh_worker_reads_each_archive_once(spark):
    sc = spark.sparkContext

    def first_hooked_round(_):
        # references nothing from dumpster, so unpickling this function
        # imports nothing: dumpster's own import is the one below
        import importlib as il
        import sys as s
        import zipimport as zi
        preloaded = "dumpster" in s.modules
        import dumpster  # noqa: F401  (installs the hook, no keys yet)
        zipped = [f.archive for f in s.path_importer_cache.values()
                  if isinstance(f, zi.zipimporter)]
        real, reads = zi._read_directory, []
        zi._read_directory = lambda p: reads.append(p) or real(p)
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        return [(preloaded, len(zipped), len(set(zipped)), len(reads))]

    # a new worker environment gets its own Python worker factory, so this
    # job runs in a freshly forked worker that has never imported dumpster
    var = f"DUMPSTER_FRESH_WORKER_{uuid.uuid4().hex[:8]}"
    sc.environment[var] = "1"
    try:
        got = sc.parallelize([0], 1).mapPartitions(first_hooked_round).collect()
    finally:
        del sc.environment[var]
    [(preloaded, importers, archives, reads)] = got
    assert not preloaded, got
    assert importers > archives > 0, got
    assert reads <= archives, got

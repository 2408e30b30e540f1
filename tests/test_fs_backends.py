"""K2/K3 seam: crash consistency on a NO-RENAME (S3-style) backend.

The round-1 verdict asked for a second `_fs_write_atomic` backend with
no rename semantics plus proof that the manifest-after-chunks ordering
ALONE carries the crash/resume contract (reference upload seam:
S3Uploader.java:26-43, HDFSUploader.java:25-43).

DirectPutFS publishes objects all-or-nothing with injectable crashes at
publish boundaries.  Injection is BY IDENTITY (round-3 VERDICT #1: the
old per-task publish counter made "does any task reach n publishes"
depend on bucket->task scheduling, so the suite was flaky under load;
matching the target path makes the crash, the expected exception and
the resume state schedule-independent).  These tests kill the encode at
  (a) before the first chunk of every bucket is visible,
  (b) before a mid-bucket chunk,
  (c) before any bucket manifest,
  (d) after a manifest publish,
and prove a plain resumed encode completes with a bit-identical decode.

Sibling tasks cancelled mid-put by Spark's job abort may leave
``.inflight-*`` staging files — the local simulation of S3's
server-side multipart parts, which are INVISIBLE at the key and
reclaimed by lifecycle rules / AbortMultipartUpload.  The contract
checked here is therefore about FINAL keys only: a crashed put leaves
nothing at the targeted key, and clean_orphans sweeps staging garbage.
"""

import os

import pytest

from dumpster.engine import clean_orphans, decode_table, encode_table
from dumpster.fs import DirectPutFS, PublishCrash, RenameFS
from dumpster.synth import synth_pages


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, 2000, seed=7).cache()


def _assert_same(df_a, df_b):
    assert df_a.exceptAll(df_b).count() == 0
    assert df_b.exceptAll(df_a).count() == 0


def _crashing_encode(spark, pages, out, fs):
    # chunk_rows=64 -> every bucket task writes several chunks, so each
    # injection target below (first chunk, 4th chunk, manifest) exists
    # in at least one task deterministically (2000 rows / 4 buckets
    # ~= 500 rows -> ~8 chunks per bucket; the url->bucket hash is
    # fixed by seed=7, so the layout never varies run to run).
    with pytest.raises(Exception):
        encode_table(pages, out, url_col="url", mode="salted", n_buckets=4,
                     chunk_rows=64, fs=fs)


def _final_files(out):
    for root, _d, files in os.walk(out):
        for f in files:
            if ".inflight" not in f and not f.endswith(".tmp"):
                yield os.path.join(root, f)


@pytest.mark.parametrize("target", [
    "_c00000.dmc",                     # before every bucket's FIRST chunk
    "_c00003.dmc",                     # before a mid-bucket chunk
    os.path.join("manifest", "b"),     # before any manifest (commit point)
])
def test_directput_crash_then_resume_bit_identical(spark, pages, tmp_path,
                                                   target):
    """Crash before the targeted publish becomes visible (aborted upload:
    nothing at the key) -> resume -> decode equals input exactly."""
    out = str(tmp_path / f"enc_{target.replace(os.sep, '_')}")
    _crashing_encode(spark, pages, out,
                     DirectPutFS(fail_before_put_of=target))
    # the aborted upload left nothing AT THE TARGETED KEY: no final
    # object matching the injected identity may exist (only committed
    # buckets that never hit the target may have published)
    if target.endswith(".dmc"):
        # chunk targets fire in EVERY task that reaches them, before the
        # bucket manifest -> no bucket can have committed
        from dumpster.engine import done_buckets
        assert done_buckets(out) == set()
    for fp in _final_files(out):
        assert target not in os.path.basename(fp) or \
            target == os.path.join("manifest", "b"), fp
    if target == os.path.join("manifest", "b"):
        assert not os.path.isdir(os.path.join(out, "manifest")) or not any(
            os.scandir(os.path.join(out, "manifest")))
    # resume overwrites uncommitted chunks by deterministic name; staging
    # garbage from cancelled sibling tasks (simulated multipart parts) is
    # never load-bearing and is swept by clean_orphans afterwards
    encode_table(pages, out, url_col="url", mode="salted", n_buckets=4,
                 chunk_rows=256, fs=DirectPutFS())
    _assert_same(pages, decode_table(spark, out))
    # crash leftovers (run-1 chunks the resume didn't overwrite, staging
    # files from cancelled siblings) are reclaimable, never load-bearing:
    # after the sweep the store still decodes bit-identical
    clean_orphans(spark, out)
    for root, _d, files in os.walk(out):
        for f in files:
            assert ".inflight" not in f, f
    _assert_same(pages, decode_table(spark, out))


def test_directput_crash_after_manifest_publish_resumes(spark, pages,
                                                        tmp_path):
    """Task dies right AFTER its manifest became visible: the bucket is
    durably committed, resume skips it and completes the rest."""
    out = str(tmp_path / "enc_after")
    _crashing_encode(spark, pages, out,
                     DirectPutFS(fail_after_put_of=os.path.join(
                         "manifest", "b")))
    from dumpster.engine import done_buckets
    assert done_buckets(out)   # at least one bucket committed before dying
    encode_table(pages, out, url_col="url", mode="salted", n_buckets=4,
                 chunk_rows=256, fs=DirectPutFS())
    _assert_same(pages, decode_table(spark, out))


def test_directput_clean_run_no_rename_artifacts(spark, pages, tmp_path):
    out = str(tmp_path / "enc_clean")
    encode_table(pages, out, url_col="url", mode="salted", n_buckets=4,
                 chunk_rows=256, fs=DirectPutFS())
    _assert_same(pages, decode_table(spark, out))
    for root, _d, files in os.walk(out):
        for f in files:
            assert not f.endswith(".tmp") and ".inflight" not in f


def test_rename_fs_tmp_names_unique_across_threads(tmp_path):
    """ADVICE r2: two threads drawing tmp names concurrently must never
    collide (the old list-cell counter was a non-atomic RMW).  The test
    drives the REAL ``RenameFS.put`` (round-5 review finding: the
    previous version re-implemented the name-drawing logic privately,
    so a regression in put() itself was invisible): eight threads hammer
    the same destination key; a tmp-name collision interleaves two
    threads' bytes in one staging file and the published file comes out
    corrupt (wrong length / mixed content) or a rename blows up."""
    import threading

    fs = RenameFS()
    dest = str(tmp_path / "same_key")
    payloads = [bytes([65 + i]) * (10_000 + i) for i in range(8)]
    errs = []

    def worker(p):
        try:
            for _ in range(200):
                fs.put(dest, p)
        except Exception as e:            # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(p,))
               for p in payloads]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    final = open(dest, "rb").read()
    assert final in payloads, "published file is a mix of two writes"
    # every staging file was consumed by its own rename — none left
    leftovers = [f for f in os.listdir(tmp_path) if f != "same_key"]
    assert leftovers == [], leftovers


def test_clean_orphans_sweeps_inflight_staging(spark, pages, tmp_path):
    """A hard crash between DirectPutFS staging and publish leaves an
    .inflight file; clean_orphans must reclaim it like .tmp garbage."""
    out = str(tmp_path / "enc_inflight")
    encode_table(pages, out, url_col="url", mode="salted", n_buckets=4,
                 chunk_rows=256, fs=DirectPutFS())
    victim = os.path.join(out, "chunks",
                          "b000001_c00000.dmc.inflight-999-1-7")
    open(victim, "wb").write(b"partial multipart upload")
    report = clean_orphans(spark, out)
    assert report["tmp"] == 1 and report["orphans"] == 0
    assert not os.path.exists(victim)
    assert decode_table(spark, out).count() == pages.count()


def test_directput_identity_injection_is_schedule_independent(tmp_path):
    """The injection itself, outside Spark: only the matching path
    raises, independent of how many puts happened first."""
    fs = DirectPutFS(fail_before_put_of="target.bin")
    a = str(tmp_path / "other.bin")
    fs.put(a, b"x")                      # non-matching put publishes fine
    assert open(a, "rb").read() == b"x"
    with pytest.raises(PublishCrash):
        fs.put(str(tmp_path / "target.bin"), b"y")
    assert not os.path.exists(str(tmp_path / "target.bin"))
    assert not [f for f in os.listdir(tmp_path) if ".inflight" in f]

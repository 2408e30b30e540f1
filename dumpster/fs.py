"""Filesystem backends for chunk/manifest publishes (K2/K3 parity).

The reference ships uploads to S3 or HDFS behind one interface
(reference: S3Uploader.java:26-43, HDFSUploader.java:25-43, Uploader.java);
here the same seam is the ``put(path, data)`` object-publish call used by
the encoder for every chunk and manifest file.

Two backends with deliberately different commit mechanics:

* :class:`RenameFS` — POSIX local/HDFS-style: unique tmp in the target
  directory, then an atomic rename.
* :class:`DirectPutFS` — S3-style: there is NO rename available to the
  engine.  A put stages the object out-of-line (the analog of an
  in-flight multipart upload — an aborted upload leaves nothing at the
  key) and the object becomes visible all-or-nothing.  Crash injection
  hooks (``fail_before_publish`` / ``fail_after_publish``) let tests
  kill the job at exact publish boundaries.

What makes BOTH crash-safe is not the backend: it is the engine's
manifest-after-chunks ordering (a bucket's manifest publishes only after
every chunk of the bucket is durable) plus deterministic chunk names
(resume simply re-publishes identical bytes).  The DirectPutFS resume
tests prove that ordering alone carries the contract — the rename is an
implementation detail of one backend, not the correctness mechanism.
"""

from __future__ import annotations

import contextlib
import fcntl
import itertools
import os
import threading
import time


class PublishCrash(RuntimeError):
    """Injected crash at a publish boundary (tests only)."""


class RenameFS:
    """Local/HDFS-style publish: unique tmp + atomic rename.

    The tmp name is unique per (process, thread, counter): concurrent
    duplicate writers — Spark speculative execution, or two resumed jobs
    racing — each complete their own tmp and the last rename wins with
    identical bytes (all chunk contents are deterministic).  The counter
    is an ``itertools.count`` (atomic ``__next__`` in CPython) and the
    thread id is part of the name, so two driver threads can never draw
    the same tmp name (round-2 ADVICE: the previous list-cell increment
    was a non-atomic read-modify-write).
    """

    _seq = itertools.count()

    def put(self, path: str, data) -> None:
        tmp = (f"{path}.{os.getpid()}-{threading.get_ident()}"
               f"-{next(self._seq)}.tmp")
        with open(tmp, "wb") as f:
            if isinstance(data, list):
                f.writelines(data)
            else:
                f.write(data)
            # fsync BEFORE the rename: without it a power loss after the
            # rename can leave a durable name pointing at never-flushed
            # blocks — the manifest would then reference truncated chunks
            # and the manifest-after-chunks contract would be a lie
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        # dir fsync makes the RENAME itself durable (POSIX crash rule);
        # without it the file can vanish from the directory after reboot
        try:
            dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:
            pass   # platform/FS without dir-fsync: best effort


class DirectPutFS:
    """S3-style publish: no rename in the engine's vocabulary.

    ``put`` stages the bytes as an in-flight upload (``.inflight-*`` next
    to the target — S3 would hold multipart parts server-side and an
    aborted upload leaves nothing at the key) and then commits: the
    object appears at the key all-or-nothing.  Fault injection is BY
    IDENTITY, not by count (the round-3 flake: a per-task publish
    counter made "does any task reach n publishes" depend on bucket→task
    scheduling; matching the target path makes the crash, the expected
    exception and the resume state schedule-independent):

    * ``fail_before_put_of=s`` — any put whose path contains ``s``
      raises BEFORE the object becomes visible (upload aborted: key
      absent).
    * ``fail_after_put_of=s`` — any put whose path contains ``s``
      raises AFTER the object is visible (task died between upload
      completion and task success).
    """

    def __init__(self, fail_before_put_of: str | None = None,
                 fail_after_put_of: str | None = None):
        self.fail_before_put_of = fail_before_put_of
        self.fail_after_put_of = fail_after_put_of
        self._n = 0

    def put(self, path: str, data) -> None:
        self._n += 1
        stage = (f"{path}.inflight-{os.getpid()}"
                 f"-{threading.get_ident()}-{self._n}")
        with open(stage, "wb") as f:
            if isinstance(data, list):
                f.writelines(data)
            else:
                f.write(data)
        if self.fail_before_put_of is not None \
                and self.fail_before_put_of in path:
            os.remove(stage)  # aborted multipart upload: nothing at the key
            raise PublishCrash(f"injected crash before publish of {path}")
        # commit: the object appears at the key all-or-nothing.  (On real
        # S3 this is CompleteMultipartUpload; locally the only way to get
        # all-or-nothing visibility is a rename — the ENGINE never calls
        # rename on this backend, and no engine code may rely on tmp
        # files being adjacent to the key.)
        os.replace(stage, path)
        if self.fail_after_put_of is not None \
                and self.fail_after_put_of in path:
            raise PublishCrash(f"injected crash after publish of {path}")


DEFAULT_FS = RenameFS()


@contextlib.contextmanager
def file_lock(lock_path: str, timeout: float = 30.0):
    """Mutual exclusion for small driver-side metadata read-modify-writes
    (catalog entries, schema evolution, layout records, bucket-range
    reservations, sink commits) — the cases where last-writer-wins
    silently drops a concurrent writer's update.  The reference gets this
    from the Hive metastore serializing DDL (HiveClient.java:27-37); here
    it is a kernel ``flock`` on ``lock_path``, retried every 20 ms until
    ``timeout`` (then ``TimeoutError``, naming the holder's ``pid@host``,
    which the holder writes into the file).

    The kernel drops the lock when its holder's process dies, so a
    crashed holder never blocks anyone and a live one is never broken,
    however long it holds.  The holder unlinks the file and then closes
    it (closing first would let a waiter lock the inode that the unlink
    then removes); a waiter that locked an inode which is no longer the
    file at ``lock_path`` lets it go and retries.  Scope: processes on one
    host sharing a local POSIX filesystem, as the store's
    ``os.replace``/fsync publishes already assume.  ``flock`` does not
    exclude across hosts on NFS or HDFS mounts, and an S3-semantics
    store has no lock at all: point ``catalog_path`` at a local
    filesystem or front it with a DynamoDB-style CAS.
    """
    deadline = time.monotonic() + timeout
    while True:
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            if os.path.samestat(os.fstat(fd), os.stat(lock_path)):
                break
        except (BlockingIOError, FileNotFoundError):
            pass
        os.close(fd)
        if time.monotonic() > deadline:
            try:
                with open(lock_path) as f:
                    holder = f.read()
            except OSError:
                holder = "<released>"
            raise TimeoutError(f"could not acquire {lock_path} within "
                               f"{timeout}s (held by {holder!r}?)")
        time.sleep(0.02)
    try:
        os.ftruncate(fd, 0)
        os.write(fd, f"{os.getpid()}@{os.uname().nodename}".encode())
        yield
    finally:
        try:
            os.unlink(lock_path)    # before close: see above
        finally:
            os.close(fd)

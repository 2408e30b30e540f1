"""Round-4 ADVICE fixes, pinned.

* done_buckets / manifest listing tolerate foreign files in manifest/
* file_lock release is TOCTOU-free (rename-claim, verify, then unlink)
* stateful_offset_dedup does not depend on intra-group delivery order
"""

import os

import pandas as pd
import pytest

from dumpster.engine import (decode_table, done_buckets, encode_table,
                             read_manifest)
from dumpster.streaming import _dedup_group
from dumpster.synth import synth_pages


def test_dedup_group_out_of_order_first_seen_kept():
    """A first-seen lower offset delivered AFTER a higher one in the same
    micro-batch must still be emitted (ADVICE r3: the shuffle does not
    preserve intra-group row order)."""
    pdfs = [pd.DataFrame({"part": [0], "off": [5]}),
            pd.DataFrame({"part": [0], "off": [3]})]
    keep, last = _dedup_group(-1, iter(pdfs), "part", "off")
    assert sorted(keep["off"].tolist()) == [3, 5]
    assert last == 5


def test_dedup_group_in_batch_replay_emitted_once():
    pdfs = [pd.DataFrame({"part": [0, 0, 0], "off": [5, 3, 5]})]
    keep, last = _dedup_group(-1, iter(pdfs), "part", "off")
    assert sorted(keep["off"].tolist()) == [3, 5]
    assert last == 5


def test_dedup_group_prior_batch_replays_dropped():
    pdfs = [pd.DataFrame({"part": [0, 0], "off": [4, 7]})]
    keep, last = _dedup_group(5, iter(pdfs), "part", "off")
    assert keep["off"].tolist() == [7]
    assert last == 7
    keep, last = _dedup_group(7, iter([]), "part", "off")
    assert len(keep) == 0 and last == 7


def test_done_buckets_ignores_foreign_manifest_files(spark, tmp_path):
    """ADVICE r3: a hand-made backup.parquet (or any non-numeric
    b*.parquet) in manifest/ must be ignored, not crash every resume."""
    out = str(tmp_path / "enc")
    pages = synth_pages(spark, 300, seed=3)
    encode_table(pages, out, url_col="url", mode="salted",
                 n_buckets=2)
    before = done_buckets(out)
    n_manifest = read_manifest(spark, out).count()
    # foreign droppings: a backup copy and junk that matches b*.parquet
    real = sorted(os.listdir(os.path.join(out, "manifest")))[0]
    src = os.path.join(out, "manifest", real)
    for foreign in ("backup.parquet", "bOLD.parquet", "b12x.parquet"):
        with open(os.path.join(out, "manifest", foreign), "wb") as fo:
            fo.write(open(src, "rb").read())
    assert done_buckets(out) == before
    assert read_manifest(spark, out).count() == n_manifest
    assert decode_table(spark, out).count() == 300
    # resume path: all buckets done -> no-op, must not raise
    encode_table(pages, out, url_col="url", mode="salted",
                 n_buckets=2,
                 resume=True)


def test_file_lock_release_leaves_no_residue(tmp_path):
    """The rename-claim release must clean up after itself on the happy
    path (no .rel.* victims left) and restore a stolen fresh lock."""
    from dumpster import fs as fslib

    lock = str(tmp_path / "l.lock")
    with fslib.file_lock(lock, timeout=2, stale=120):
        pass
    assert not os.path.exists(lock)
    assert not [f for f in os.listdir(tmp_path) if ".rel." in f]

    # stale-broken mid-section: new holder's lock must survive release
    ctx = fslib.file_lock(lock, timeout=2, stale=120)
    ctx.__enter__()
    os.unlink(lock)
    with open(lock, "w") as f:
        f.write("someone-else")
    ctx.__exit__(None, None, None)
    assert os.path.exists(lock)
    assert open(lock).read() == "someone-else"
    assert not [f for f in os.listdir(tmp_path) if ".rel." in f]
    os.unlink(lock)

"""Round-5 fixes for the four ADVICE r4 items:

1. pack_sequences — __pid is a pure function of id_col (driver-computed
   cut points), so tok_offset is exact even with exchange reuse disabled
   or the two subplans planned independently.
2. select_token_budget — the histogram guard bounds driver memory BEFORE
   rows land (take, not collect), and non-string strata columns work.
3. stateful_sessionize — output schema derives the user column's real
   type instead of hardcoding long (the operator and its tests are
   gone; the sessionize_events oracle runs pipeline.sessionize).
4. dedup_against_store — NULL-text rows always survive (NOT EXISTS
   semantics), matching the realigned DuckDB oracle.
"""

import pytest
from pyspark.sql import functions as F


def _expected_offsets(rows):
    """Global-window formulation: sum(tokens) OVER (ORDER BY id) - tokens."""
    out, cum = {}, 0
    for i, t in sorted(rows):
        out[i] = cum
        cum += t
    return out


def test_pack_sequences_exact_without_exchange_reuse(spark):
    from dumpster.textops import pack_sequences
    rows = [(i, (i * 37) % 90 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    old = spark.conf.get("spark.sql.exchange.reuse", "true")
    try:
        spark.conf.set("spark.sql.exchange.reuse", "false")
        got = {r["doc_id"]: (r["tok_offset"], r["seq_first"], r["seq_last"])
               for r in pack_sequences(df, seq_len=256,
                                       num_partitions=8).collect()}
    finally:
        spark.conf.set("spark.sql.exchange.reuse", old)
    want = _expected_offsets(rows)
    assert len(got) == 500
    for (i, t) in rows:
        off = want[i]
        assert got[i] == (off, off // 256,
                          max(off // 256, (off + t - 1) // 256)), i


def test_pack_sequences_more_partitions_than_rows(spark):
    from dumpster.textops import pack_sequences
    rows = [(1, 10), (2, 5), (3, 7)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {r["doc_id"]: r["tok_offset"]
           for r in pack_sequences(df, seq_len=8,
                                   num_partitions=16).collect()}
    assert got == {1: 0, 2: 10, 3: 15}


def test_pack_sequences_empty_input(spark):
    from dumpster.textops import pack_sequences
    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_sequences(df, seq_len=16).count() == 0


def test_pack_sequences_oracle_arrow_types_are_int64():
    """The DuckDB oracle must hand Arrow the engine's BIGINT columns: a
    bare window sum over BIGINT is HUGEINT and arrives as
    decimal128(38,0), which fails a typed comparison even though the
    Python-int values agree."""
    import duckdb
    import pyarrow as pa

    from dumpster.textops import pack_sequences_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE docs AS SELECT i::BIGINT AS doc_id, "
                "(i % 7)::BIGINT AS n_tokens FROM range(50) t(i)")
    got = con.sql(pack_sequences_sql("docs", 16)).arrow()
    for c in ("tok_offset", "seq_first", "seq_last"):
        assert got.schema.field(c).type == pa.int64(), c


def test_select_token_budget_int_strata(spark):
    from dumpster.textops import select_token_budget
    rows = [(i, i % 2, (i * 2654435761 % 100) / 100.0, 10)
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id long, grp int, quality double, n_tokens long")
    kept = select_token_budget(df, "grp", {0: 100, 1: 50}).collect()
    by_grp = {}
    for r in kept:
        by_grp.setdefault(r["grp"], []).append(r)
    # budget is honored per stratum: the crossing doc is included
    assert 100 <= sum(r["n_tokens"] for r in by_grp[0]) < 110
    assert 50 <= sum(r["n_tokens"] for r in by_grp[1]) < 60
    # and the kept set is the quality-top prefix
    qs = sorted((r[2] for r in rows if r[1] == 1), reverse=True)
    kept_q = sorted((r["quality"] for r in by_grp[1]), reverse=True)
    assert kept_q == qs[:len(kept_q)]


def test_select_token_budget_histogram_guard_fires(spark):
    from dumpster.textops import select_token_budget
    rows = [(i, "en", i / 10000.0, 5) for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, quality double, n_tokens long")
    with pytest.raises(RuntimeError, match="max_hist_groups"):
        select_token_budget(df, "lang", {"en": 100},
                            resolution=1_000_000, max_hist_groups=10)


def test_dedup_against_store_null_text_survives(spark, tmp_path):
    import tempfile

    from dumpster import dedup
    from dumpster.engine import encode_table

    docs = spark.createDataFrame(
        [(1, "seen doc"), (2, "fresh doc"), (3, None),
         (4, "seen doc"), (5, None)],
        "doc_id long, text string")
    ledger = spark.createDataFrame(
        [("seen doc",), (None,)], "text string").select(
        F.md5("text").alias("fp"))
    out = tempfile.mkdtemp(prefix="dumpster_t_fpnull_",
                           dir=str(tmp_path))
    encode_table(ledger, out, mode="local", chunk_rows=64)
    kept = sorted(r["doc_id"] for r in
                  dedup.dedup_against_store(spark, docs, out).collect())
    # NULL-text rows (3, 5) survive; both "seen doc" copies drop
    assert kept == [2, 3, 5]


# --- second/third review-batch regressions (round-5) -----------------------


def test_sqlfront_respects_user_replaced_view(spark, tmp_path):
    """A view the USER re-registered under the same name must be neither
    swapped out mid-query (silently wrong rows) nor clobbered by the
    restore — the registry entry is stale and sql() must detect it via
    the recorded semantic hash."""
    from dumpster import sqlfront
    from dumpster.engine import decode_table, encode_table, \
        register_decoded_view

    d = str(tmp_path / "sqv")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    encode_table(docs, d, mode="local")
    register_decoded_view(spark, d, "r5_vdocs", pushdown=True)
    # narrow pruning works while the registration is ours
    exp = sorted(map(tuple, docs.groupBy("lang").count().collect()))
    got = sorted(map(tuple, sqlfront.sql(
        spark, "SELECT lang, count(*) AS count FROM r5_vdocs "
               "GROUP BY lang").collect()))
    assert got == exp
    # user clobbers the name with a FILTERED view
    decode_table(spark, d).filter("lang = 'en'") \
        .createOrReplaceTempView("r5_vdocs")
    n_en = decode_table(spark, d).filter("lang = 'en'").count()
    got2 = sqlfront.sql(
        spark, "SELECT count(*) AS n FROM r5_vdocs").collect()[0]["n"]
    assert got2 == n_en
    # and the user's view survives the call untouched
    assert spark.sql("SELECT count(*) AS n FROM r5_vdocs") \
        .collect()[0]["n"] == n_en


def test_decode_empty_columns_list_raises(spark, tmp_path):
    """columns=[] used to silently decode 0 rows (a zero-column Arrow
    batch has num_rows 0) — count(*) callers got 0 instead of the table
    size."""
    from dumpster.engine import decode_table, encode_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path / "ec")
    encode_table(docs, d, mode="local")
    with pytest.raises(ValueError, match="columns"):
        decode_table(spark, d, columns=[])


def test_register_view_on_stream_root_without_pushdown(spark, tmp_path):
    """register_decoded_view(pushdown=False) must accept a stream-sink
    root (batch=N stores) the same way the pushdown fallback already
    does — it used to crash on the missing root _schema.json."""
    from dumpster.engine import encode_table, register_decoded_view

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    root = tmp_path / "sroot"
    for i in range(2):
        encode_table(docs.limit(25), str(root / f"batch={i:06d}"),
                     mode="local")
    register_decoded_view(spark, str(root), "r5_streamv", pushdown=False)
    assert spark.sql("SELECT count(*) AS n FROM r5_streamv") \
        .collect()[0]["n"] == 50


def test_catalog_preserves_pushdown_flag(spark, tmp_path):
    """save_catalog records the pushdown flag and restore_catalog
    re-registers with it (it used to silently downgrade pushdown views
    to plain decodes)."""
    import json

    from dumpster.engine import encode_table, restore_catalog, save_catalog

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path / "catp")
    encode_table(docs, d, mode="local")
    cat = str(tmp_path / "_catalog.json")
    save_catalog(cat, "r5_cat_pd", d, pushdown=True)
    with open(cat) as f:
        assert json.load(f)["r5_cat_pd"]["pushdown"] is True
    out = restore_catalog(spark, cat)
    assert out["r5_cat_pd"] is not None
    # the restored view is the pushdown relation (dumpster data source),
    # not a plain mapInArrow decode
    plan = spark.table("r5_cat_pd")._jdf.queryExecution() \
        .analyzed().toString()
    assert "dumpster" in plan.lower()
    assert spark.sql("SELECT count(*) AS n FROM r5_cat_pd") \
        .collect()[0]["n"] == docs.count()


def test_select_token_budget_null_stratum_kept(spark):
    """Rows with a NULL stratum pass the base filter via default_budget
    and must survive the bounds probe (the inner equi-join silently
    dropped the whole NULL stratum; the oracle keeps it)."""
    import duckdb

    from dumpster.textops import select_token_budget, \
        select_token_budget_sql

    rows = [(i, None if i % 3 == 0 else ("en" if i % 2 else "pt"),
             float(i % 7), 100) for i in range(60)]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, quality double, n_tokens long")
    got = select_token_budget(df, "lang", {"en": 1500},
                              default_budget=1200)
    # NULL stratum present in the output
    assert got.filter(F.col("lang").isNull()).count() > 0
    import pandas as pd
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = con.execute(select_token_budget_sql(
        "t", "lang", {"en": 1500}, default_budget=1200)).df()
    a = got.toPandas().sort_values(["doc_id"]).reset_index(drop=True)
    b = oracle.sort_values(["doc_id"]).reset_index(drop=True)[a.columns]
    assert len(a) == len(b)
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()))


def test_near_dup_components_string_ids(spark):
    """Connected components must work on string doc ids — the old
    cast('long') nulled every edge under legacy mode (silent no-op
    dedup) or aborted under ANSI."""
    from dumpster.dedup import near_dup_components

    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c"), ("doc-x", "doc-y")],
        "id_a string, id_b string")
    comp = {r["id"]: r["component"]
            for r in near_dup_components(pairs).collect()}
    assert comp["doc-a"] == comp["doc-b"] == comp["doc-c"] == "doc-a"
    assert comp["doc-x"] == comp["doc-y"] == "doc-x"


def test_simsearch_tolerates_null_embeddings(spark):
    """One NULL embedding must not crash brute_topk / ivf_cells /
    ivf_topk (the lsh_* entry points already filtered; these did not)."""
    from dumpster.simsearch import brute_topk, ivf_cells, ivf_topk

    rows = [(i, [float(i), 1.0, 0.5]) for i in range(20)]
    rows.append((99, None))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    bt = brute_topk(emb, query_ids=[1, 99], k=3)
    assert bt.filter(F.col("query_id") == 99).count() == 0
    assert bt.filter(F.col("query_id") == 1).count() == 3
    cells = ivf_cells(emb, n_cells=4)
    assert cells.filter(F.col("vec_id") == 99).count() == 0
    assert cells.count() == 20
    it = ivf_topk(emb, query_ids=[1, 99], k=3, n_cells=4, n_probe=4)
    assert it.filter(F.col("query_id") == 99).count() == 0
    assert it.filter(F.col("query_id") == 1).count() == 3


def test_embedding_lsh_bands_validation(spark):
    """bands must divide n_planes (r=0 used to put every vector in one
    bucket — a silent all-pairs degeneration)."""
    from dumpster.simsearch import embedding_near_dups_lsh

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="bands"):
        embedding_near_dups_lsh(emb, n_planes=16, bands=32)
    with pytest.raises(ValueError, match="bands"):
        embedding_near_dups_lsh(emb, n_planes=16, bands=3)


def test_host_of_hard_urls(spark):
    """Query-before-path and uppercase-scheme URLs extract the right
    host (the old pattern returned 'b.com' / '' respectively), and the
    pipeline extractor agrees with textops.url_host."""
    from dumpster import pipeline, textops

    df = spark.createDataFrame(
        [("http://example.com?next=a@b.com",),
         ("HTTP://Example.com/x",),
         ("https://plain.example.org/p",)], "url string")
    got = [r[0] for r in df.select(pipeline.host_of("url")).collect()]
    assert got == ["example.com", "example.com", "plain.example.org"]
    via_textops = [r[0] for r in
                   df.select(textops.url_host(F.col("url"))).collect()]
    assert got == via_textops


# --- fifth review-batch regressions (round-5) --------------------------------


def test_file_lock_contended_stale_break_stays_exclusive(tmp_path):
    """Plant a crashed holder's lock aged far past `stale` and release a
    pack of waiters at it simultaneously — every one of them takes the
    stale-break path at once.  The round-5 claim-verify must keep the
    critical section mutually exclusive: the old break could steal the
    FRESH lock the winning breaker had just created and let two holders
    in.  `stale` stays far above the section length, so no lock held
    here is ever legitimately stale."""
    import os
    import threading
    import time as _t

    from dumpster import fs as fslib

    lock = str(tmp_path / "c.lock")
    overlaps = []
    active = [0]

    for _ in range(8):
        with open(lock, "w") as f:
            f.write("dead@crashed-host:deadbeef")
        os.utime(lock, (1, 1))             # aged: every waiter sees stale
        barrier = threading.Barrier(6)

        def worker():
            barrier.wait()                 # all hit the stale lock together
            with fslib.file_lock(lock, timeout=30, stale=120):
                active[0] += 1
                if active[0] > 1:
                    overlaps.append(1)
                _t.sleep(0.004)
                active[0] -= 1

        ts = [threading.Thread(target=worker) for _ in range(6)]
        [t.start() for t in ts]
        [t.join() for t in ts]
    assert not overlaps, f"{len(overlaps)} overlapping critical sections"


def test_file_lock_stale_breaker_cleanup_keeps_fresh_breaker(tmp_path,
                                                              monkeypatch):
    """Force the breaker-cleanup interleaving: a waiter finds a stale
    `.breaker`, and between its age check and its removal another waiter
    clears that breaker and creates a FRESH one.  The old stat-then-unlink
    deleted the fresh breaker, letting a third waiter break the lock
    concurrently; claim-by-rename must leave the fresh breaker alone."""
    import os

    from dumpster import fs as fslib

    lock = str(tmp_path / "b.lock")
    breaker = lock + ".breaker"
    for p in (lock, breaker):
        with open(p, "w") as f:
            f.write("dead@crashed-host:deadbeef")
        os.utime(p, (1, 1))                # both left by a crashed holder
    real_getmtime, real_unlink = os.path.getmtime, os.unlink
    fresh_ino, stolen, breaker_stats = [], [], [0]

    def getmtime(p):
        if p == breaker:
            breaker_stats[0] += 1
            if breaker_stats[0] == 1:
                t = real_getmtime(p)       # stale, then the race:
                real_unlink(p)             # another waiter clears it ...
                with open(p, "w"):         # ... and takes a fresh breaker
                    pass
                fresh_ino.append(os.stat(p).st_ino)
                return t
            if os.path.exists(p):          # that waiter finishes its break
                real_unlink(p)
                fresh_ino.clear()          # (its inode may be reused)
        return real_getmtime(p)

    def unlink(p):
        if fresh_ino and os.path.exists(p) \
                and os.stat(p).st_ino == fresh_ino[0]:
            stolen.append(p)
        real_unlink(p)

    monkeypatch.setattr(os.path, "getmtime", getmtime)
    monkeypatch.setattr(os, "unlink", unlink)
    entered = []
    with fslib.file_lock(lock, timeout=10, stale=120):
        entered.append(1)
    monkeypatch.undo()
    assert entered
    assert not stolen, "a fresh breaker was deleted by a stale cleanup"
    assert not [f for f in os.listdir(tmp_path) if ".brk." in f]


def test_chunk_list_uint64_extremes_roundtrip():
    """list<uint64> with values >= 2^63 must round-trip bit-exactly (the
    checked int64 cast used to raise ArrowInvalid on encode)."""
    import pyarrow as pa

    from dumpster.chunk import decode_chunk, encode_chunk

    batch = pa.record_batch({
        "v": pa.array([[2**63, 1, 2**64 - 1], [0], None],
                      type=pa.list_(pa.uint64()))})
    blob, _ = encode_chunk(batch)
    out = decode_chunk(blob)
    assert out.column(0).to_pylist() == \
        [[2**63, 1, 2**64 - 1], [0], None]
    assert out.schema == batch.schema


def test_decode_chunk_empty_columns_raises():
    import pyarrow as pa

    from dumpster.chunk import decode_chunk, encode_chunk

    batch = pa.record_batch({"a": pa.array([1, 2, 3], type=pa.int64())})
    blob, _ = encode_chunk(batch)
    with pytest.raises(ValueError, match="columns"):
        decode_chunk(blob, columns=[])


def test_media_features_large_binary_and_nulls(spark):
    """large_binary input (int64 offsets) must not be misread as int32,
    and null rows must come back null without a Python round-trip."""
    import pandas as pd
    import pyarrow as pa

    from dumpster.multimodal import media_features

    payloads = [b"\x01" * 64, None, b"\x02" * 100]
    pdf = pd.DataFrame({"id": [1, 2, 3], "blob": payloads})
    df = spark.createDataFrame(pdf)
    out = {r["id"]: r["features"]
           for r in media_features(df, "id", "blob", dim=4).collect()}
    assert out[2] is None
    assert len(out[1]) == 4 and len(out[3]) == 4
    # large-offsets leg: drive the kernel directly with large_binary
    # (Spark delivers regular binary, so THIS is the only way the int64
    # branch executes in tests) — values must be identical to the int32
    # leg, and a sliced array must respect the byte offset
    from dumpster.multimodal import _fake_features
    small = pa.array(payloads, type=pa.binary())
    large = pa.array(payloads, type=pa.large_binary())
    f_small = _fake_features(small, 4).to_pylist()
    f_large = _fake_features(large, 4).to_pylist()
    assert f_small == f_large
    assert f_large[1] is None and len(f_large[0]) == 4
    # and the Spark-path values agree with the kernel values
    assert [out[1], out[2], out[3]] == f_small
    assert _fake_features(large.slice(2, 1), 4).to_pylist() == [f_large[2]]


# --- ADVICE r5: concurrent overwrite, overflow remedy, id-type union --------


def _fake_commit_message(out, bucket):
    """One chunk file on disk plus the commit message the write task that
    wrote it would report (Spark-free: the writer's commit protocol only
    reads these rows)."""
    import os

    from dumpster.datasource import DumpsterCommitMessage
    from dumpster.engine import _chunk_path

    path = _chunk_path(out, bucket, 0)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(b"chunk")
    return DumpsterCommitMessage([{
        "bucket": bucket, "chunk_seq": 0, "file": path, "n_rows": 1,
        "raw_bytes": 8, "encoded_bytes": 5, "n_cols": 1, "encode_ms": 0.0,
        "partition_id": 0, "col_stats": "[]"}])


def test_overwrite_commit_never_strands_concurrent_writers(tmp_path):
    """An overwrite commit deletes every concurrent writer's uncommitted
    chunks; a later commit of such a writer used to publish manifests
    pointing at the deleted files (an unreadable store).  Now the first
    commit wins and every later one fails loudly, publishing nothing."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    from dumpster.datasource import DumpsterWriter
    from dumpster.engine import done_buckets

    out = str(tmp_path / "store")
    schema = StructType([StructField("x", LongType())])
    append = DumpsterWriter({"path": out}, schema, overwrite=False)
    first = DumpsterWriter({"path": out}, schema, overwrite=True)
    second = DumpsterWriter({"path": out}, schema, overwrite=True)
    msgs = {w: _fake_commit_message(out, w.bucket_base)
            for w in (append, first, second)}
    first.commit([msgs[first]])
    for late in (append, second):
        with pytest.raises(RuntimeError, match="concurrent overwrite"):
            late.commit([msgs[late]])
    assert done_buckets(out) == {first.bucket_base}
    for m in glob.glob(os.path.join(out, "manifest", "b*.parquet")):
        assert all(os.path.exists(f)
                   for f in pq.read_table(m).column("file").to_pylist())


def test_bucket_range_exhausted_names_a_working_remedy(tmp_path):
    """The int32 bucket-range error told users to overwrite the store, but
    an overwrite writer reserves a range at init too and hits the same
    error; the remedy is a fresh out_dir."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from dumpster.datasource import DumpsterWriter

    out = tmp_path / "full"
    out.mkdir()
    (out / "_bucket_alloc.json").write_text(json.dumps({"next": 2**31 - 5}))
    schema = StructType([StructField("x", LongType())])
    with pytest.raises(ValueError, match="fresh out_dir") as exc:
        DumpsterWriter({"path": str(out)}, schema, overwrite=True)
    assert "overwrite it" not in str(exc.value)


def test_near_dup_components_int_long_ids_keep_id_a_type(spark):
    """The symmetric union matches columns by position: int id_a with long
    id_b used to widen every returned id and label to long."""
    from dumpster.dedup import near_dup_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "id_a int, id_b long")
    out = near_dup_components(pairs)
    assert dict(out.dtypes) == {"id": "int", "component": "int"}
    assert {r["id"]: r["component"] for r in out.collect()} == \
        {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

"""df.writeStream.format("dumpster") — the V2 streaming sink.

Contract under test:
* each micro-batch lands as its own ``batch=N`` store, decodable as one
  table with decode_table on the root and foldable with compact_stream,
* batch-atomic visibility: manifests appear only via commit(batchId),
* the task-side batch id (streaming.sql.batchId property) matches the
  committed batchId — chunks never cross batch namespaces,
* restart with new input appends new batch dirs, committed ones are
  untouched (checkpointed exactly-once).
"""

import os

import pytest
import pyspark.sql.functions as F

from dumpster.datasource import register_dumpster_source
from dumpster.engine import decode_table, done_buckets
from dumpster.streaming import batch_dirs, compact_stream, stream_manifest


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_dumpster_source(spark)


def _write_batch_files(spark, src, lo, hi):
    (spark.range(lo, hi)
     .select(F.col("id").alias("doc_id"),
             (F.col("id") % 5).cast("string").alias("lang"),
             F.concat(F.lit("body "), F.col("id").cast("string"))
             .alias("text"))
     .coalesce(1).write.mode("append").parquet(src))


def test_stream_sink_roundtrip_and_layout(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _write_batch_files(spark, src, 0, 300)
    _write_batch_files(spark, src, 300, 500)

    stream = (spark.readStream
              .schema("doc_id long, lang string, text string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (stream.writeStream.format("dumpster")
         .option("path", out).option("chunk_rows", "128")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    dirs = batch_dirs(out)
    assert len(dirs) == 2                      # one store per micro-batch
    for d in dirs:
        assert done_buckets(d)                 # manifests were committed
        assert os.path.exists(os.path.join(d, "_schema.json"))

    got = decode_table(spark, out)
    want = spark.read.parquet(src)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # lineage rows carry the batch id (stream_manifest contract)
    assert set(r.batch_id for r in
               stream_manifest(spark, out).select("batch_id")
               .distinct().collect()) == {0, 1}

    # restart with NEW input: committed batches untouched, new batch added
    _write_batch_files(spark, src, 500, 600)
    q2 = (spark.readStream
          .schema("doc_id long, lang string, text string")
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.format("dumpster")
          .option("path", out).option("chunk_rows", "128")
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    assert len(batch_dirs(out)) == 3
    assert decode_table(spark, out).count() == 600

    # the stream layout feeds compact_stream unchanged
    dst = str(tmp_path / "compacted")
    compact_stream(spark, out, dst, chunk_rows=4096, mode="local")
    folded = decode_table(spark, dst)
    assert folded.count() == 600
    assert folded.exceptAll(spark.read.parquet(src)).count() == 0


def test_replayed_batch_with_fewer_tasks_keeps_rows_once(spark, tmp_path):
    """A crash after commit(batchId) published but before Spark logged
    the commit replays the batch; a restart that splits it into fewer
    write tasks (another core count, another maxPartitionBytes) must not
    leave the crashed run's extra bucket manifests beside the replay's,
    or every row they hold reads back twice."""
    from dumpster.engine import clean_orphans
    src = str(tmp_path / "s8src")
    out = str(tmp_path / "s8out")
    ckpt = str(tmp_path / "s8ck")
    _write_batch_files(spark, src, 0, 400)

    def run(n_tasks):
        q = (spark.readStream
             .schema("doc_id long, lang string, text string").parquet(src)
             .repartition(n_tasks)
             .writeStream.format("dumpster").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert q.exception() is None

    run(4)
    batch = os.path.join(out, "batch=000000")
    assert done_buckets(batch) == {0, 1, 2, 3}
    for f in ("0", ".0.crc"):
        if os.path.exists(os.path.join(ckpt, "commits", f)):
            os.remove(os.path.join(ckpt, "commits", f))
    run(2)
    got = decode_table(spark, out)
    assert got.count() == 400
    assert got.distinct().count() == 400
    assert done_buckets(batch) == {0, 1}
    assert got.exceptAll(spark.read.parquet(src)).count() == 0
    # the dropped buckets' chunk files are orphans of the batch store
    assert clean_orphans(spark, batch)["orphans"] == 2
    assert decode_table(spark, out).count() == 400


def test_format_reads_stream_root(spark, tmp_path):
    """spark.read.format("dumpster") pointed at a writeStream output root
    scans every batch=N store as one table — SQL users need not know the
    layout or call a stream-specific reader."""
    src = str(tmp_path / "s3src")
    out = str(tmp_path / "s3out")
    _write_batch_files(spark, src, 0, 120)
    _write_batch_files(spark, src, 120, 200)
    q = (spark.readStream
         .schema("doc_id long, lang string, text string")
         .option("maxFilesPerTrigger", "1").parquet(src)
         .writeStream.format("dumpster")
         .option("path", out).option("chunk_rows", "64")
         .option("checkpointLocation", str(tmp_path / "s3ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(batch_dirs(out)) == 2

    got = spark.read.format("dumpster").option("path", out).load()
    want = spark.read.parquet(src)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # pushdown still engages across batches: a WHERE is exact
    got.createOrReplaceTempView("stream_root_docs")
    n = spark.sql("SELECT count(*) AS n FROM stream_root_docs "
                  "WHERE doc_id BETWEEN 50 AND 149").collect()[0]["n"]
    assert n == 100
    # a non-store path still fails loudly
    with pytest.raises(Exception, match="neither an encoded table"):
        spark.read.format("dumpster") \
            .option("path", str(tmp_path / "nope")).load().count()


def test_pushdown_view_over_stream_root(spark, tmp_path):
    """register_decoded_view(pushdown=True) on a writeStream output root:
    the never-null sentinel is verified across EVERY batch's manifests
    and the stale-scan-cache killer sequence stays exact."""
    from dumpster.engine import register_decoded_view
    src = str(tmp_path / "s4src")
    out = str(tmp_path / "s4out")
    _write_batch_files(spark, src, 0, 150)
    _write_batch_files(spark, src, 150, 260)
    q = (spark.readStream
         .schema("doc_id long, lang string, text string")
         .option("maxFilesPerTrigger", "1").parquet(src)
         .writeStream.format("dumpster")
         .option("path", out).option("chunk_rows", "64")
         .option("checkpointLocation", str(tmp_path / "s4ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    register_decoded_view(spark, out, "stream_pd", pushdown=True)
    assert spark.sql("SELECT count(*) c FROM stream_pd") \
        .collect()[0]["c"] == 260
    assert spark.sql("SELECT count(*) c FROM stream_pd "
                     "WHERE doc_id BETWEEN 100 AND 199") \
        .collect()[0]["c"] == 100
    # full scan AFTER the filtered planning (the poisoned sequence)
    assert spark.sql("SELECT count(*) c FROM stream_pd") \
        .collect()[0]["c"] == 260


def test_stream_sink_rejects_bucket_col(spark, tmp_path):
    src = str(tmp_path / "s2")
    _write_batch_files(spark, src, 0, 10)
    stream = (spark.readStream
              .schema("doc_id long, lang string, text string").parquet(src))
    with pytest.raises(Exception, match="bucket_col"):
        q = (stream.writeStream.format("dumpster")
             .option("path", str(tmp_path / "o2"))
             .option("bucket_col", "lang")
             .option("checkpointLocation", str(tmp_path / "c2"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)


def test_stream_sink_rejects_bad_chunk_rows(spark, tmp_path):
    src = str(tmp_path / "s3")
    _write_batch_files(spark, src, 0, 10)
    stream = (spark.readStream
              .schema("doc_id long, lang string, text string").parquet(src))
    out = str(tmp_path / "o3")
    with pytest.raises(Exception, match="chunk_rows must be a positive int"):
        q = (stream.writeStream.format("dumpster")
             .option("path", out)
             .option("chunk_rows", "0")
             .option("checkpointLocation", str(tmp_path / "c3"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
    assert not os.path.exists(out)


def test_stream_sink_rejects_unknown_options(spark, tmp_path):
    src = str(tmp_path / "s7")
    _write_batch_files(spark, src, 0, 10)
    stream = (spark.readStream
              .schema("doc_id long, lang string, text string").parquet(src))
    out = str(tmp_path / "o7")
    for name, value in (("chunk_row", "7"), ("table_id", "t")):
        with pytest.raises(Exception,
                           match=f"(?s)unknown.*{name}.*chunk_rows"):
            q = (stream.writeStream.format("dumpster")
                 .option("path", out)
                 .option(name, value)
                 .option("checkpointLocation", str(tmp_path / "c7"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(60)
        assert not os.path.exists(out)


def test_store_and_stream_root_never_mix(spark, tmp_path):
    """A root _schema.json makes every reader see that store alone, so a
    table written into a stream-sink root used to hide its batches (two
    30-row batches plus a 5-row append read back as 5 rows).  Every
    writer now refuses the other kind of root before writing anything."""
    from dumpster.engine import encode_table
    from dumpster.streaming import encode_stream_partitioned
    src = str(tmp_path / "s6src")
    out = str(tmp_path / "s6out")
    _write_batch_files(spark, src, 0, 30)
    _write_batch_files(spark, src, 30, 60)
    stream = (spark.readStream
              .schema("doc_id long, lang string, text string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (stream.writeStream.format("dumpster").option("path", out)
         .option("checkpointLocation", str(tmp_path / "s6ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert len(batch_dirs(out)) == 2
    extra = spark.read.parquet(src).limit(5)
    before = sorted(os.listdir(out))
    with pytest.raises(Exception, match="stream-sink root"):
        extra.write.format("dumpster").mode("append").save(out)
    with pytest.raises(ValueError, match="stream-sink root"):
        encode_table(extra, out)
    assert sorted(os.listdir(out)) == before   # no chunks/, manifest/ ...
    assert decode_table(spark, out).count() == 60
    assert spark.read.format("dumpster").option("path", out) \
        .load().count() == 60
    # the other way round: a stream into a store's root
    store = str(tmp_path / "s6store")
    extra.write.format("dumpster").mode("append").save(store)
    with pytest.raises(ValueError, match="holds an encoded table"):
        encode_stream_partitioned(stream, store,
                                  checkpoint=str(tmp_path / "s6ck2"))
    with pytest.raises(Exception, match="holds an encoded table"):
        q = (stream.writeStream.format("dumpster").option("path", store)
             .option("checkpointLocation", str(tmp_path / "s6ck3"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
    assert not [n for n in os.listdir(store) if n.startswith("batch=")]


def test_uncommitted_batch_dirs_invisible(spark, tmp_path):
    """A batch=N dir without _schema.json (in-flight or failed sink
    batch) must be invisible to every stream reader and to the format's
    stream-root resolution."""
    import os
    src = str(tmp_path / "s5src")
    out = str(tmp_path / "s5out")
    _write_batch_files(spark, src, 0, 100)
    q = (spark.readStream
         .schema("doc_id long, lang string, text string").parquet(src)
         .writeStream.format("dumpster")
         .option("path", out).option("chunk_rows", "64")
         .option("checkpointLocation", str(tmp_path / "s5ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # simulate an in-flight batch: chunks, no schema/manifests yet
    os.makedirs(os.path.join(out, "batch=000099", "chunks"))
    with open(os.path.join(out, "batch=000099", "chunks", "junk.dmc"),
              "wb") as f:
        f.write(b"partial")
    assert len(batch_dirs(out)) == 1           # committed batch only
    assert decode_table(spark, out).count() == 100
    assert spark.read.format("dumpster").option("path", out) \
        .load().count() == 100
    # every reader resolves the stream root to the same committed stores
    from dumpster.engine import clean_orphans, read_manifest, verify_chunks
    n_man = read_manifest(spark, out).count()
    assert n_man == stream_manifest(spark, out).count() > 0
    committed = sorted(r.file for r in
                       read_manifest(spark, out).select("file").collect())
    v = {r.file: r.ok for r in verify_chunks(spark, out).collect()}
    assert sorted(v) == committed and all(v.values())
    assert not any(f.endswith("junk.dmc") for f in v)
    # a stream root is not one store: the orphan sweep refuses it, names
    # the batch stores and deletes nothing
    before = sorted(os.path.join(d, f) for d, _s, fs in os.walk(out)
                    for f in fs)
    with pytest.raises(ValueError, match="batch=000000"):
        clean_orphans(spark, out)
    assert sorted(os.path.join(d, f) for d, _s, fs in os.walk(out)
                  for f in fs) == before
    # damage one committed chunk: the root-level sweep names exactly it
    bad = committed[0]
    with open(bad, "r+b") as f:
        f.seek(os.path.getsize(bad) // 2)
        b = f.read(1)
        f.seek(-1, 1)
        f.write(bytes([b[0] ^ 0xFF]))
    assert [r.file for r in verify_chunks(spark, out)
            .filter(~F.col("ok")).collect()] == [bad]

"""df.write.format("dumpster") — the engine as a Spark batch sink.

Semantics under test:
* roundtrip: written store decodes bit-identically via BOTH front doors
  (spark.read.format("dumpster") and engine.decode_table),
* commit protocol: no manifest becomes visible until the job commits —
  a task failure mid-job leaves a reader-invisible store,
* append allocates fresh bucket ids past the committed max (no chunk
  collisions), overwrite truncates including schema history,
* schema evolution on append (new column null-fills on old chunks),
* each write task is one bucket; a host-sorted frame keeps its locality,
* guard rails: reserved names, struct columns, and no layout option
  (``bucket_col`` and prep_for_encode frames are refused, pointing at
  engine.encode_table).

Reference parity: the commit ordering (chunks durable, then the manifest
flip) is the reference's data-upload-before-offset-commit contract,
HourlyBasedPartitioner.java:160-182 → TopicStreamer.java:65, expressed
through Spark's V2 writer commit protocol.
"""

import os

import pytest
import pyspark.sql.functions as F

from dumpster import pipeline
from dumpster.datasource import register_dumpster_source
from dumpster.engine import decode_table, done_buckets, read_manifest, \
    table_schema

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register_dumpster_source(spark)


def _docs(spark):
    return spark.read.parquet(DOCS)


def test_roundtrip_both_front_doors(spark, tmp_path):
    out = str(tmp_path / "w1")
    df = _docs(spark)
    df.write.format("dumpster").mode("append").save(out)
    via_ds = spark.read.format("dumpster").option("path", out).load()
    assert via_ds.exceptAll(df).count() == 0
    assert df.exceptAll(via_ds).count() == 0
    via_engine = decode_table(spark, out)
    assert via_engine.exceptAll(df).count() == 0
    assert df.exceptAll(via_engine).count() == 0


def test_append_fresh_buckets_and_counts(spark, tmp_path):
    out = str(tmp_path / "w2")
    df = _docs(spark)
    df.write.format("dumpster").mode("append").save(out)
    first = set(done_buckets(out))
    df.write.format("dumpster").mode("append").save(out)
    second = set(done_buckets(out)) - first
    assert first and second and not (first & second)
    got = spark.read.format("dumpster").option("path", out).load()
    assert got.count() == 2 * df.count()


def test_concurrent_appends_disjoint_and_lossless(spark, tmp_path):
    """Two appends whose writers exist CONCURRENTLY (both constructed
    before either commits) must reserve disjoint bucket ranges — the
    max(done)+1 scheme would give both the same ids and the later commit
    would silently replace the earlier rows."""
    from dumpster.datasource import DumpsterWriter, _reserve_bucket_range
    out = str(tmp_path / "wc")
    df = _docs(spark)
    w1 = DumpsterWriter({"path": out}, df.schema, False)
    w2 = DumpsterWriter({"path": out}, df.schema, False)
    assert w1.bucket_base != w2.bucket_base

    # end-to-end: interleaved threaded appends of DIFFERENT data all land
    import threading
    out2 = str(tmp_path / "wc2")
    errs = []

    def job(shift):
        try:
            # pinned-thread mode: fresh JVM threads carry no active
            # session, and Python-data-source lookup needs one (see
            # register_dumpster_source docstring)
            spark._jvm.org.apache.spark.sql.classic.SparkSession \
                .setActiveSession(spark._jsparkSession)
            (_docs(spark).withColumn("doc_id", F.col("doc_id") + shift)
             .write.format("dumpster").mode("append").save(out2))
        except Exception as e:      # surfaced below, not swallowed
            errs.append(e)

    ts = [threading.Thread(target=job, args=(s,)) for s in (0, 10_000)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    got = spark.read.format("dumpster").option("path", out2).load()
    assert got.count() == 2 * df.count()
    assert got.select("doc_id").distinct().count() == 2 * df.count()


def test_overwrite_truncates_store_and_schema(spark, tmp_path):
    out = str(tmp_path / "w3")
    _docs(spark).write.format("dumpster").mode("append").save(out)
    # type change is allowed across overwrite (schema history is wiped)...
    narrow = _docs(spark).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang")
    narrow.write.format("dumpster").mode("overwrite").save(out)
    got = spark.read.format("dumpster").option("path", out).load()
    assert got.columns == ["doc_id", "lang"]
    assert got.count() == narrow.count()
    assert [f.dataType.simpleString() for f in table_schema(out).fields] \
        == ["string", "string"]
    # ...but refused on append (add-only evolution, engine parity)
    bad = _docs(spark).select(F.col("doc_id").cast("double").alias("doc_id"))
    with pytest.raises(Exception, match="only adding columns"):
        bad.write.format("dumpster").mode("append").save(out)


def test_append_evolves_schema(spark, tmp_path):
    out = str(tmp_path / "w4")
    df = _docs(spark)
    df.select("doc_id", "lang").write.format("dumpster") \
        .mode("append").save(out)
    df.select("doc_id", "lang", "n_chars").write.format("dumpster") \
        .mode("append").save(out)
    got = spark.read.format("dumpster").option("path", out).load()
    assert set(got.columns) == {"doc_id", "lang", "n_chars"}
    # old-generation rows null-fill the evolved column
    assert got.filter(F.col("n_chars").isNull()).count() == df.count()
    assert got.filter(F.col("n_chars").isNotNull()).count() == df.count()


def test_task_failure_leaves_store_invisible(spark, tmp_path):
    out = str(tmp_path / "w7")
    _docs(spark).limit(50).write.format("dumpster").mode("append").save(out)
    visible_before = set(done_buckets(out))

    @F.udf("long")
    def poison(v):
        if v is None:
            raise RuntimeError("poison row")
        return v

    bad = _docs(spark).withColumn(
        "n_chars",
        poison(F.when(F.col("doc_id") % 97 == 3, None)
               .otherwise(F.col("n_chars"))))
    with pytest.raises(Exception):
        bad.write.format("dumpster").mode("append").save(out)
    # the failed job published nothing — the committed store is unchanged
    assert set(done_buckets(out)) == visible_before
    got = spark.read.format("dumpster").option("path", out).load()
    assert got.count() == 50
    mf = read_manifest(spark, out)
    assert mf.filter(~F.col("bucket").isin(
        [int(b) for b in visible_before])).count() == 0


def test_guard_rails(spark, tmp_path):
    out = str(tmp_path / "w8")
    df = _docs(spark).withColumn("__bucket", F.lit(1))
    with pytest.raises(Exception, match="reserved"):
        df.write.format("dumpster").mode("append").save(out)
    nested = _docs(spark).select(
        "doc_id", F.struct("lang", "n_chars").alias("meta"))
    with pytest.raises(Exception, match="struct"):
        nested.write.format("dumpster").mode("append").save(out)
    # layouts live in encode_table: the sink refuses a layout option and
    # a prepped frame's routing columns, and names the way out
    with pytest.raises(Exception, match="(?s)bucket_col.*encode_table"):
        _docs(spark).write.format("dumpster") \
            .option("bucket_col", "lang").mode("append").save(out)
    with pytest.raises(Exception, match="(?s)chunk_bytes.*DEFAULT_CHUNK"):
        _docs(spark).write.format("dumpster") \
            .option("chunk_bytes", "1024").mode("append").save(out)
    prepped = pipeline.prep_for_encode(
        _docs(spark).withColumn("url", F.lit("https://h.example/")),
        "url", n_buckets=4)
    with pytest.raises(Exception, match="(?s)reserved.*encode_table"):
        prepped.write.format("dumpster").mode("append").save(out)
    assert not os.path.exists(os.path.join(out, "manifest")) \
        or done_buckets(out) == set()


def test_bad_chunk_rows_raises_before_writing(spark, tmp_path):
    """The sink refuses a chunk_rows option that is not a positive int
    before it creates the store (0 used to fail in every write task)."""
    out = str(tmp_path / "w_rows")
    for bad in ("0", "-3", "many"):
        with pytest.raises(Exception,
                           match="chunk_rows must be a positive int"):
            _docs(spark).write.format("dumpster") \
                .option("chunk_rows", bad).mode("append").save(out)
    assert not os.path.exists(out)


def test_unknown_option_raises_before_writing(spark, tmp_path):
    """A misspelt or removed option (``chunk_row``, ``table_id``) used to
    be ignored silently, writing with the defaults; the sink now names
    its options and writes nothing."""
    out = str(tmp_path / "w_opt")
    _docs(spark).limit(10).write.format("dumpster").mode("append").save(out)
    before = sorted(os.listdir(out))
    for name, value in (("chunk_row", "7"), ("table_id", "t")):
        with pytest.raises(Exception,
                           match=f"(?s)unknown.*{name}.*chunk_rows"):
            _docs(spark).write.format("dumpster") \
                .option(name, value).mode("append").save(out)
        assert sorted(os.listdir(out)) == before
    assert decode_table(spark, out).count() == 10


def test_written_store_supports_pushdown(spark, tmp_path):
    out = str(tmp_path / "w9")
    df = _docs(spark).orderBy("doc_id")
    df.coalesce(1).write.format("dumpster") \
        .option("chunk_rows", "64").mode("append").save(out)
    view = spark.read.format("dumpster").option("path", out).load()
    view.createOrReplaceTempView("writer_docs")
    got = spark.sql("SELECT doc_id, lang FROM writer_docs "
                    "WHERE doc_id BETWEEN 40 AND 80 ORDER BY doc_id")
    want = df.filter(F.col("doc_id").between(40, 80)) \
        .select("doc_id", "lang").orderBy("doc_id")
    assert got.collect() == want.collect()


def test_hostsorted_frame_through_plain_sink_roundtrip(spark, tmp_path):
    """The zero-shuffle host-grouped sink path benched as
    encode_pages_sink_local: the frame is host-sorted within each split
    and written through the plain sink, so each write task is one bucket
    and its chunks land directly under chunks/.  Round-trip must be exact
    through both readers."""
    from dumpster.synth import synth_pages

    out = str(tmp_path / "whs")
    pages = synth_pages(spark, 2500, seed=21)
    n_tasks = pages.rdd.getNumPartitions()
    (pages.withColumn("__host", pipeline.host_of("url"))
     .sortWithinPartitions("__host").drop("__host")
     .write.format("dumpster").option("chunk_rows", "256")
     .mode("append").save(out))
    # a fresh store's range starts at 0: bucket == the write task's id
    assert done_buckets(out) == set(range(n_tasks))
    assert read_manifest(spark, out) \
        .filter(F.col("bucket") != F.col("partition_id")).count() == 0
    chunks = os.listdir(os.path.join(out, "chunks"))
    assert chunks and all(c.endswith(".dmc") for c in chunks)
    got = spark.read.format("dumpster").option("path", out).load()
    assert set(got.columns) == set(pages.columns)
    assert got.exceptAll(pages).count() == 0
    assert pages.exceptAll(got).count() == 0
    via_engine = decode_table(spark, out)
    assert via_engine.exceptAll(pages).count() == 0
    assert pages.exceptAll(via_engine).count() == 0


def test_failed_overwrite_preserves_existing_table(spark, tmp_path):
    """Round-5 review finding: overwrite used to truncate at writer
    CREATION, so a failed overwrite destroyed the old table with nothing
    published.  Truncation now happens inside commit() — a failed
    overwrite must leave the old store byte-for-byte readable."""
    out = str(tmp_path / "ow1")
    old = _docs(spark).limit(60)
    old.write.format("dumpster").mode("append").save(out)
    before = spark.read.format("dumpster").option("path", out).load() \
        .collect()

    @F.udf("long")
    def poison(v):
        if v is None:
            raise RuntimeError("poison row")
        return v

    bad = _docs(spark).withColumn(
        "n_chars",
        poison(F.when(F.col("doc_id") % 97 == 3, None)
               .otherwise(F.col("n_chars"))))
    with pytest.raises(Exception):
        bad.write.format("dumpster").mode("overwrite").save(out)
    after = spark.read.format("dumpster").option("path", out).load() \
        .collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    assert len(after) == 60
    # a successful overwrite still replaces everything, old rows gone
    new = _docs(spark).limit(10)
    new.write.format("dumpster").mode("overwrite").save(out)
    got = spark.read.format("dumpster").option("path", out).load()
    assert got.count() == 10
    assert decode_table(spark, out).count() == 10


def test_overwrite_clears_stream_batches(spark, tmp_path):
    """Round-5 review finding: overwrite on a stream-sink root left the
    old batch=* sub-stores on disk, so readers of the root resurrected
    supposedly-overwritten rows."""
    import glob

    out = str(tmp_path / "ow2")
    # simulate a stream store: two batch=N sub-stores
    for i in range(2):
        _docs(spark).limit(20).write.format("dumpster").mode("append") \
            .save(os.path.join(out, f"batch={i:06d}"))
    assert decode_table(spark, out).count() == 40
    _docs(spark).limit(5).write.format("dumpster").mode("overwrite") \
        .save(out)
    assert glob.glob(os.path.join(out, "batch=*")) == []
    # the root is now a plain store holding the overwritten rows only
    assert decode_table(spark, out).count() == 5
    assert spark.read.format("dumpster").option("path", out).load() \
        .count() == 5


def test_bucket_reservation_exhaustion_fails_fast(spark, tmp_path):
    """Round-5 review finding: bucket ids past int32 used to overflow
    inside a write task (np.int32 full) after chunks were already
    written; the reservation now refuses up front."""
    import json as jsonlib

    out = str(tmp_path / "ow3")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "_bucket_alloc.json"), "w") as f:
        jsonlib.dump({"next": 2**31 - 5}, f)
    with pytest.raises(Exception, match="int32"):
        _docs(spark).limit(5).write.format("dumpster").mode("append") \
            .save(out)
    # nothing was published by the refused job
    assert done_buckets(out) == set()


@pytest.mark.parametrize("save_mode,layout", [
    ("append", lambda: {"bucket_expr": F.lit(0), "n_buckets": 1}),
    ("overwrite", lambda: {"mode": "salted", "n_buckets": 4}),
], ids=["append-bucket_expr", "overwrite-salted"])
def test_encode_table_refuses_to_resume_a_sink_store(spark, tmp_path,
                                                      save_mode, layout):
    """A sink's bucket ids are the partition ids of each write job, so an
    encode_table resume into a sink store would skip the new rows whose
    bucket ids the sink already committed, silently.  The sink records
    ``{"layout": "sink"}`` and the resume is refused before writing."""
    from dumpster.engine import encode_table

    out = str(tmp_path / "sr")
    spark.range(400).repartition(4).write.format("dumpster") \
        .mode(save_mode).save(out)
    before = done_buckets(out)
    with pytest.raises(ValueError, match=r"sink wrote it.*fresh out_dir"):
        encode_table(spark.range(1000, 1100), out, **layout())
    assert done_buckets(out) == before
    assert decode_table(spark, out).count() == 400
    with open(os.path.join(out, "_layout.json")) as f:
        assert f.read() == '{"layout": "sink"}'

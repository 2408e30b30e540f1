"""Engine round-trip + resume + size-gate tests (SURVEY.md §5.2.2-5.2.4).

The north_rule invariants:
 * decode(encode(df)) == df exactly (byte-identical text per url)
 * compressed size ≤ the reference-config Parquet (Snappy + dictionary,
   RecordWriter.java:29-32) of the same DataFrame
 * a killed run resumes from the chunk manifest and encodes only the
   missing buckets, final table identical
"""

import glob
import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from dumpster.engine import (decode_table, done_buckets, encode_summary,
                             encode_table, read_manifest)
from dumpster.synth import synth_pages

N_ROWS = 4000


@pytest.fixture(scope="module")
def pages(spark):
    return synth_pages(spark, N_ROWS, seed=42).cache()


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "enc")


def _assert_same(df_a, df_b):
    # exact multiset equality in both directions (binary, ts, nulls included)
    assert df_a.exceptAll(df_b).count() == 0
    assert df_b.exceptAll(df_a).count() == 0


def test_roundtrip_bit_identical(spark, pages, out_dir):
    man = encode_table(pages, out_dir, url_col="url", mode="salted",
                       n_buckets=8,
                       chunk_rows=512)
    dec = decode_table(spark, out_dir)
    assert dec.count() == N_ROWS
    _assert_same(pages, dec)
    # byte-identical text per url, checked the join way too
    j = (pages.alias("a").join(dec.alias("b"), "url")
         .filter(F.col("a.text") != F.col("b.text")))
    assert j.count() == 0


def test_manifest_is_lineage_and_metrics(spark, pages, out_dir):
    man = encode_table(pages, out_dir, url_col="url", mode="salted",
                       n_buckets=8,
                       chunk_rows=512)
    s = encode_summary(man)
    assert s["rows"] == N_ROWS
    assert s["buckets"] == 8 and s["chunks"] >= 8
    assert s["encoded_bytes"] > 0 and s["raw_bytes"] > 0
    row = man.limit(1).collect()[0]
    assert row["partition_id"] >= 0 and row["encode_ms"] > 0
    assert "codec" in row["col_stats"]
    assert os.path.exists(row["file"])


def test_column_pruned_decode(spark, pages, out_dir):
    encode_table(pages, out_dir, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=512)
    two = decode_table(spark, out_dir, columns=["url", "lang"])
    assert two.columns == ["url", "lang"]
    _assert_same(pages.select("url", "lang"), two)


def test_resume_encodes_only_missing_buckets(spark, pages, out_dir):
    encode_table(pages, out_dir, url_col="url", mode="salted",
                 n_buckets=8, chunk_rows=512)
    full_files = set(glob.glob(os.path.join(out_dir, "chunks", "*.dmc")))

    # simulate a crash that lost 3 buckets (manifest is the commit record)
    lost = sorted(done_buckets(out_dir))[:3]
    for b in lost:
        os.remove(os.path.join(out_dir, "manifest", f"b{b:06d}.parquet"))
        for f in glob.glob(os.path.join(out_dir, "chunks", f"b{b:06d}_*.dmc")):
            os.remove(f)
    assert len(done_buckets(out_dir)) == 5

    # pre-resume mtimes of surviving chunk files
    surviving = {f: os.path.getmtime(f)
                 for f in glob.glob(os.path.join(out_dir, "chunks", "*.dmc"))}

    man = encode_table(pages, out_dir, url_col="url", mode="salted",
                       n_buckets=8,
                       chunk_rows=512, resume=True)
    assert len(done_buckets(out_dir)) == 8
    # untouched buckets were not re-encoded
    for f, mt in surviving.items():
        assert os.path.getmtime(f) == mt, f"resume rewrote completed chunk {f}"
    assert set(glob.glob(os.path.join(out_dir, "chunks", "*.dmc"))) == full_files
    _assert_same(pages, decode_table(spark, out_dir))


def test_resume_noop_when_complete(spark, pages, out_dir):
    encode_table(pages, out_dir, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=512)
    mtimes = {f: os.path.getmtime(f)
              for f in glob.glob(os.path.join(out_dir, "*", "*"))}
    encode_table(pages, out_dir, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=512,
                 resume=True)
    after = {f: os.path.getmtime(f)
             for f in glob.glob(os.path.join(out_dir, "*", "*"))}
    assert mtimes == after


def test_size_le_reference_parquet(spark, pages, tmp_path):
    """North_rule size gate: ≤ Spark Parquet written with the reference
    sink's exact settings (Snappy, dictionary on, 256 MiB row group,
    64 KiB page — RecordWriter.java:29-32,
    HourlyBasedRecordConsumer.java:161-162)."""
    ref = str(tmp_path / "ref_parquet")
    (pages.coalesce(1).write
     .option("compression", "snappy")
     .option("parquet.enable.dictionary", "true")
     .option("parquet.block.size", str(256 * 1024 * 1024))
     .option("parquet.page.size", str(64 * 1024))
     .parquet(ref))
    ref_bytes = sum(os.path.getsize(f)
                    for f in glob.glob(os.path.join(ref, "*.parquet")))

    out = str(tmp_path / "enc")
    man = encode_table(pages, out, url_col="url", mode="salted", n_buckets=4,
                       chunk_rows=4096)
    enc_bytes = sum(os.path.getsize(f)
                    for f in glob.glob(os.path.join(out, "chunks", "*.dmc")))
    assert enc_bytes <= ref_bytes, (
        f"encoded {enc_bytes:,}B exceeds reference parquet {ref_bytes:,}B")


def test_encode_generic_table_documents(spark, tmp_path):
    """The engine is schema-generic: driver's documents table round-trips."""
    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    out = str(tmp_path / "docs_enc")
    encode_table(docs, out, bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"),
                 n_buckets=8, chunk_rows=256)
    dec = decode_table(spark, out)
    _assert_same(docs, dec)


def test_synth_deterministic_across_parallelism(spark):
    a = synth_pages(spark, 500, seed=7, parts=2)
    b = synth_pages(spark, 500, seed=7, parts=8)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.parametrize("layout", [{"mode": "local"}, {}],
                         ids=["mode_local", "default"])
def test_local_mode_zero_shuffle_roundtrip(spark, pages, out_dir, layout):
    """mode='local' (also the default): no exchange at all — bucket = input
    split.  Round-trip must stay bit-identical and the physical plan must
    contain no shuffle between the scan and the encode mapInArrow."""
    from dumpster.pipeline import prep_for_encode_local

    plan = prep_for_encode_local(pages, "url")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan

    man = encode_table(pages, out_dir, url_col="url",
                       chunk_rows=512, **layout)
    dec = decode_table(spark, out_dir)
    _assert_same(pages, dec)
    # lineage rows carry the split id as the bucket
    assert man.select("bucket").distinct().count() == \
        man.select("partition_id").distinct().count()


def test_local_mode_resume_encodes_only_missing_split(spark, pages, out_dir):
    encode_table(pages, out_dir, url_col="url",
                 mode="local", chunk_rows=512)
    mfiles = sorted(glob.glob(os.path.join(out_dir, "manifest", "*.parquet")))
    assert len(mfiles) >= 2
    os.remove(mfiles[0])
    victim = int(os.path.basename(mfiles[0])[1:7])
    survivor_chunks = {f: os.path.getmtime(f) for f in
                       glob.glob(os.path.join(out_dir, "chunks", "*.dmc"))
                       if int(os.path.basename(f)[1:7]) != victim}
    encode_table(pages, out_dir, url_col="url",
                 mode="local", chunk_rows=512)
    for f, mt in survivor_chunks.items():
        assert os.path.getmtime(f) == mt, f"untouched chunk rewritten: {f}"
    _assert_same(pages, decode_table(spark, out_dir))


def _store_state(out_dir):
    layout = pathlib.Path(out_dir, "_layout.json")
    return (done_buckets(out_dir),
            sorted(glob.glob(os.path.join(out_dir, "chunks", "*.dmc"))),
            layout.read_text() if layout.exists() else None)


def test_local_resume_refuses_changed_split_plan(spark, tmp_path):
    """Split-local bucket ids number the input splits, so resuming under
    another split plan would skip the wrong rows (a resume at a smaller
    maxPartitionBytes used to decode 1.5x the source rows).  It must
    raise before any task runs and publish nothing; the original split
    settings still resume."""
    src = str(tmp_path / "src")
    synth_pages(spark, 1200, seed=11).repartition(3).write.parquet(src)
    out = str(tmp_path / "enc")
    encode_table(spark.read.parquet(src), out, url_col="url",
                 chunk_rows=512)
    mfiles = sorted(glob.glob(os.path.join(out, "manifest", "*.parquet")))
    assert len(mfiles) >= 2
    os.remove(mfiles[0])
    before = _store_state(out)
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(256 * 1024))
    try:
        with pytest.raises(ValueError, match="cannot resume"):
            encode_table(spark.read.parquet(src), out, url_col="url",
                         chunk_rows=512)
    finally:
        spark.conf.set(key, prev)
    assert _store_state(out) == before
    encode_table(spark.read.parquet(src), out, url_col="url",
                 chunk_rows=512)
    _assert_same(spark.read.parquet(src), decode_table(spark, out))


def test_default_resume_of_salted_store_raises(spark, pages, out_dir):
    """A salted store — with its layout record, or written before the
    record existed — is not resumed under the split-local default: the
    salted bucket ids name other rows.  Explicit mode='salted' resumes."""
    encode_table(pages, out_dir, url_col="url", mode="salted", n_buckets=4,
                 chunk_rows=512)
    with pytest.raises(ValueError, match="cannot resume"):
        encode_table(pages, out_dir, url_col="url", chunk_rows=512)
    os.remove(os.path.join(out_dir, "_layout.json"))
    with pytest.raises(ValueError, match="no layout record"):
        encode_table(pages, out_dir, url_col="url", chunk_rows=512)
    assert not os.path.exists(os.path.join(out_dir, "_layout.json"))
    encode_table(pages, out_dir, url_col="url", mode="salted", n_buckets=4,
                 chunk_rows=512)
    assert len(done_buckets(out_dir)) == 4
    _assert_same(pages, decode_table(spark, out_dir))


@pytest.mark.parametrize("sizing", [{"n_buckets": 8}, {"salt_k": 2}])
def test_split_local_layout_rejects_salted_sizing(pages, out_dir, sizing):
    """n_buckets / salt_k only size the salted layout; the split-local
    default used to ignore them silently."""
    with pytest.raises(ValueError, match='mode="salted"'):
        encode_table(pages, out_dir, url_col="url", **sizing)
    assert not glob.glob(os.path.join(out_dir, "manifest", "*.parquet"))


def test_partitioned_encode_reference_layout(spark, pages, out_dir):
    """encode_table_partitioned writes the reference's dt=/hr= tree
    (HourlyBasedRecordConsumer.java:125-131) and path_glob decode prunes
    whole hour directories before any file is opened."""
    from dumpster.engine import encode_table_partitioned

    man = encode_table_partitioned(pages, out_dir, ts_col="warc_ts",
                                   chunk_rows=4096)
    # layout: every chunk sits under chunks/dt=YYYY-MM-DD/hr=HH/
    files = [r["file"] for r in man.select("file").collect()]
    import re
    assert files and all(
        re.search(r"/chunks/dt=\d{4}-\d{2}-\d{2}/hr=\d{2}/", f)
        for f in files), files[:3]

    # full decode restores the original schema and rows (dt/hr not stored)
    dec = decode_table(spark, out_dir)
    assert dec.columns == pages.columns
    _assert_same(pages, dec)

    # directory-pruned decode == exact hour filter recomputed from ts
    one = sorted({re.search(r"dt=(\S+?)/hr=(\d+)/", f).groups()
                  for f in files})[0]
    pruned = decode_table(spark, out_dir,
                          path_glob=f"*/dt={one[0]}/hr={one[1]}/*")
    expect = pages.filter(
        (F.date_format("warc_ts", "yyyy-MM-dd") == one[0])
        & (F.hour("warc_ts") == int(one[1])))
    _assert_same(expect, pruned)


def test_verify_chunks_and_skip_on_error(spark, pages, out_dir):
    """S2/S3 parity: corruption is surfaced as data, never a job failure —
    verify_chunks pinpoints the damaged file, decode(on_error='skip')
    scans around it."""
    from dumpster.engine import verify_chunks

    encode_table(pages, out_dir, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=512)
    v = verify_chunks(spark, out_dir)
    assert v.filter(~F.col("ok")).count() == 0
    assert v.agg(F.sum("n_rows")).collect()[0][0] == N_ROWS

    # flip a payload byte in one chunk
    victim = sorted(glob.glob(os.path.join(out_dir, "chunks", "*.dmc")))[0]
    blob = bytearray(open(victim, "rb").read())
    blob[len(blob) // 2] ^= 0xFF
    open(victim, "wb").write(bytes(blob))

    bad = verify_chunks(spark, out_dir).filter(~F.col("ok")).collect()
    assert len(bad) == 1 and bad[0]["file"] == victim
    assert "crc" in bad[0]["error"].lower()

    import pytest as _pytest
    with _pytest.raises(Exception):
        decode_table(spark, out_dir).count()
    n_good = decode_table(spark, out_dir, on_error="skip").count()
    good_rows = [r["n_rows"] for r in
                 read_manifest(spark, out_dir).collect()
                 if r["file"] != victim]
    assert n_good == sum(good_rows)


def test_zone_filter_conjunction(spark, pages, out_dir):
    """AND of two zone ranges prunes at least as hard as either alone and
    never loses a matching row."""
    encode_table(pages, out_dir, mode="salted", n_buckets=4, chunk_rows=256,
                 order_cols=("warc_ts",))
    from dumpster.engine import _plan_chunks, _zone_filters

    def planned(zone_filter):
        return [f for f, _ in _plan_chunks([out_dir],
                                           _zone_filters(zone_filter))]

    lo, hi = pages.agg(F.min("warc_ts"), F.max("warc_ts")).collect()[0]
    full = ("warc_ts", lo, hi)
    narrow = ("warc_ts", lo, lo + (hi - lo) / 8)
    all_files = planned(full)
    narrowed = planned(narrow)
    # order_cols=('warc_ts',) gives tight zones → a 1/8 range prunes chunks
    assert 0 < len(narrowed) < len(all_files)
    # AND with the full range must not widen the narrow result
    assert set(planned([narrow, full])) == set(narrowed)
    # AND with a disjoint range prunes everything the narrow range kept
    disjoint = ("warc_ts", hi, hi)
    assert planned([narrow, disjoint]) == []

    # end-to-end: conjunction decode + exact filter == plain WHERE
    cutoff = lo + (hi - lo) / 8
    dec = (decode_table(spark, out_dir, zone_filter=[narrow, full])
           .filter(F.col("warc_ts") <= cutoff))
    expect = pages.filter(F.col("warc_ts") <= cutoff)
    _assert_same(expect, dec)


def test_partitioned_encode_append_new_earlier_hour(spark, out_dir):
    """Incremental append: a second run that introduces an EARLIER hour
    must not be skipped by resume — hour→bucket ids are persisted
    append-only (_hour_buckets.json), never renumbered."""
    from dumpster.engine import encode_table_partitioned
    from dumpster.synth import synth_pages

    pages = synth_pages(spark, 2000, seed=42).cache()
    late = pages.filter(F.hour("warc_ts") >= 1)
    early = pages.filter(F.hour("warc_ts") < 1)
    assert late.count() > 0 and early.count() > 0

    encode_table_partitioned(late, out_dir, ts_col="warc_ts",
                             chunk_rows=512)
    # second run sees the full table including the new earlier hour
    encode_table_partitioned(pages, out_dir, ts_col="warc_ts",
                             chunk_rows=512)
    dec = decode_table(spark, out_dir)
    _assert_same(pages, dec)


def test_reserved_column_names_rejected(spark, tmp_path):
    """User columns that would be clobbered by the routing pipeline or the
    struct-flattening separator are rejected up front, not silently lost."""
    out = str(tmp_path / "enc")
    df = spark.range(10).withColumnRenamed("id", "__bucket")
    with pytest.raises(ValueError, match="reserved"):
        encode_table(df, out, n_buckets=2)

    df2 = (spark.range(10)
           .selectExpr("id", "named_struct('a', id) AS s",
                       "id AS `bad@name`"))
    with pytest.raises(ValueError, match="separator"):
        encode_table(df2, str(tmp_path / "enc2"), n_buckets=2)


def test_unknown_mode_raises(pages, tmp_path):
    with pytest.raises(ValueError, match="unknown mode"):
        encode_table(pages, str(tmp_path / "x"), url_col="url",
                     mode="bogus")


@pytest.mark.parametrize("chunk_rows", [0, -1, 2.5, True])
def test_bad_chunk_rows_raises_before_writing(pages, tmp_path, chunk_rows):
    """A chunk_rows that is not a positive int is refused by name before
    the store is created; 0 used to fail inside the encode task with an
    IndexError, after _layout.json and _schema.json were written."""
    from dumpster.engine import encode_table_partitioned
    out = str(tmp_path / "bad")
    with pytest.raises(ValueError, match="chunk_rows must be a positive"):
        encode_table(pages, out, url_col="url", chunk_rows=chunk_rows)
    with pytest.raises(ValueError, match="chunk_rows must be a positive"):
        encode_table_partitioned(pages, out, chunk_rows=chunk_rows)
    assert not os.path.exists(out)


def test_clean_orphans_reclaims_crash_garbage(spark, pages, out_dir):
    """K5 parity: .tmp partials and unreferenced chunks are reclaimed;
    referenced chunks and the decoded table are untouched."""
    from dumpster.engine import clean_orphans

    encode_table(pages, out_dir, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=512)
    chunks_dir = os.path.join(out_dir, "chunks")
    # plant crash garbage: a partial .tmp and an orphaned chunk with no
    # manifest entry
    open(os.path.join(chunks_dir, "b000099_c00000.dmc.tmp"), "wb") \
        .write(b"partial")
    open(os.path.join(chunks_dir, "b000099_c00000.dmc"), "wb") \
        .write(b"orphan - never committed")

    report = clean_orphans(spark, out_dir, dry_run=True)
    assert report["tmp"] == 1 and report["orphans"] == 1
    assert os.path.exists(os.path.join(chunks_dir, "b000099_c00000.dmc"))

    report = clean_orphans(spark, out_dir)
    assert report["tmp"] == 1 and report["orphans"] == 1
    assert not os.path.exists(os.path.join(chunks_dir, "b000099_c00000.dmc"))
    _assert_same(pages, decode_table(spark, out_dir))
    assert clean_orphans(spark, out_dir) == {"tmp": 0, "orphans": 0,
                                             "bytes": 0}


def test_concurrent_duplicate_encode_is_safe(spark, pages, out_dir):
    """Spark speculative execution / racing resumed jobs: two writers on
    the same out_dir must BOTH succeed (unique tmp names; last rename wins
    with identical deterministic bytes) and the table stays exact."""
    import threading

    errs = []

    def job():
        try:
            encode_table(pages, out_dir, url_col="url", mode="salted",
                         n_buckets=8,
                         chunk_rows=512, resume=True)
        except Exception as e:  # noqa: BLE001 - recorded for the assert
            errs.append(repr(e))

    ts = [threading.Thread(target=job) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    _assert_same(pages, decode_table(spark, out_dir))


def test_all_decode_knobs_compose(spark, pages, out_dir):
    """zone_filter + columns + path_glob + on_error='skip' in one decode:
    the pruning layers and the error guard must compose, not interact."""
    encode_table(pages, out_dir, mode="salted", n_buckets=4, chunk_rows=256,
                 order_cols=("warc_ts",))
    lo, hi = pages.agg(F.min("warc_ts"), F.max("warc_ts")).collect()[0]
    cutoff = lo + (hi - lo) / 4

    dec = decode_table(spark, out_dir, columns=["url", "warc_ts"],
                       zone_filter=[("warc_ts", lo, cutoff)],
                       path_glob="*/chunks/*.dmc", on_error="skip")
    assert dec.columns == ["url", "warc_ts"]
    got = dec.filter(F.col("warc_ts") <= cutoff)
    expect = (pages.filter(F.col("warc_ts") <= cutoff)
              .select("url", "warc_ts"))
    _assert_same(expect, got)

    # a disjoint glob prunes everything without error
    assert decode_table(spark, out_dir,
                        path_glob="*/nothing/*").count() == 0


def test_clean_orphans_survives_out_dir_respelling(spark, pages, tmp_path):
    """ADVICE r2: orphan-ness must not depend on how the caller spells
    out_dir.  Encode with one spelling, clean via a symlinked respelling —
    committed chunks must survive."""
    from dumpster.engine import clean_orphans

    out = str(tmp_path / "enc_respell")
    encode_table(pages, out, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=512)
    link = str(tmp_path / "alias")
    os.symlink(out, link)
    respelled = os.path.join(str(tmp_path), ".", "alias")

    n_chunks = len([f for f in os.listdir(os.path.join(out, "chunks"))
                    if f.endswith(".dmc")])
    report = clean_orphans(spark, respelled)
    assert report["orphans"] == 0
    survivors = [f for f in os.listdir(os.path.join(out, "chunks"))
                 if f.endswith(".dmc")]
    assert len(survivors) == n_chunks
    _assert_same(pages, decode_table(spark, out))


def test_clean_orphans_refuses_when_manifest_empty(spark, pages, tmp_path):
    """ADVICE r2: an empty/unreadable manifest must not nuke the table."""
    from dumpster.engine import clean_orphans

    out = str(tmp_path / "enc_refuse")
    encode_table(pages, out, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=512)
    # simulate manifest loss
    for f in os.listdir(os.path.join(out, "manifest")):
        os.remove(os.path.join(out, "manifest", f))
    with pytest.raises(ValueError, match="refusing"):
        clean_orphans(spark, out)
    assert [f for f in os.listdir(os.path.join(out, "chunks"))
            if f.endswith(".dmc")]


def test_clean_orphans_never_collects_file_rows(spark, pages, tmp_path,
                                                monkeypatch):
    """Scale guard (round-1 verdict item 5): the referenced/walked file
    sets stay distributed — every driver-side collect returns only tiny
    aggregate/emptiness probes, never per-file rows."""
    from dumpster.engine import clean_orphans

    out = str(tmp_path / "enc_nocollect")
    encode_table(pages, out, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=512)
    open(os.path.join(out, "chunks", "b000099_c00000.dmc"), "wb") \
        .write(b"orphan")

    cls = type(spark.range(1))  # the concrete DataFrame class in use
    sizes = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    report = clean_orphans(spark, out)
    assert report["orphans"] == 1
    assert sizes and max(sizes) <= 2


def test_same_rows_same_bytes_under_any_store_name(spark, tmp_path):
    """The selector seeds its sample from the chunk (column name, row
    count), not from the store: one lineitem-shaped frame written into
    stores with different directory names stores identical chunks,
    through encode_table and through the df.write sink.  Seeded from the
    directory name, these two names picked different codecs for some of
    the 2-decimal columns of both chunks."""
    import hashlib

    from dumpster.datasource import register_dumpster_source
    register_dumpster_source(spark)
    h = lambda s: F.abs(F.xxhash64("id", F.lit(s)))  # noqa: E731
    df = spark.range(10000, numPartitions=2).select(
        (F.col("id") / 4).cast("long").alias("l_orderkey"),
        *[(h(i) % 11 / 100.0).alias(f"d{i}") for i in range(4)],
        *[(h(10 + i) % 9 / 100.0).alias(f"t{i}") for i in range(4)])

    def digests(path):
        return {(r["bucket"], r["chunk_seq"]):
                hashlib.sha256(pathlib.Path(r["file"]).read_bytes())
                .hexdigest() for r in read_manifest(spark, path).collect()}

    writers = {"encode_table": lambda d: encode_table(df, d),
               "df.write": lambda d: df.write.format("dumpster")
               .mode("append").save(d)}
    for door, write in writers.items():
        got = []
        for name in ("first", "second"):
            write(str(tmp_path / door / name))
            got.append(digests(str(tmp_path / door / name)))
        assert len(got[0]) == 2 and got[0] == got[1], door

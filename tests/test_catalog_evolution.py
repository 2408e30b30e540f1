"""Schema-version history + durable catalog (round-1 verdict missing #3/#4)
and the encode_table_partitioned safety rails from round-2 ADVICE."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dumpster.engine import (decode_table, encode_table,
                             encode_table_partitioned, restore_catalog,
                             save_catalog, schema_versions, table_schema)


@pytest.fixture()
def docs(spark):
    return (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text", "lang"))


def test_widened_schema_encodes_into_same_table(spark, docs, tmp_path):
    """A second encode with an added column must evolve the stored schema
    (ALTER ADD COLUMNS parity), not be rejected; old chunks decode with
    nulls for the new column."""
    out = str(tmp_path / "evo")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    encode_table(first, out, bucket_expr=F.lit(0), n_buckets=1,
                 chunk_rows=256, resume=False)
    widened = (docs.filter(F.col("doc_id") % 2 == 1)
               .withColumn("score", (F.col("doc_id") * 2).cast("long")))
    encode_table(widened, out, bucket_expr=F.lit(1), n_buckets=2,
                 chunk_rows=256, resume=False)

    assert [f.name for f in table_schema(out).fields] == \
        ["doc_id", "text", "lang", "score"]
    assert schema_versions(out) == ["_schema.v1.json"]

    dec = decode_table(spark, out)
    assert dec.count() == docs.count()
    # old chunks: score is NULL; new chunks: score == doc_id*2
    assert dec.filter("doc_id % 2 = 0 AND score IS NOT NULL").count() == 0
    assert dec.filter("doc_id % 2 = 1 AND score != doc_id * 2").count() == 0
    # pruned decode of only the evolved column also works
    only = decode_table(spark, out, columns=["doc_id", "score"])
    assert only.columns == ["doc_id", "score"]


def test_type_change_is_rejected_with_clear_error(spark, docs, tmp_path):
    out = str(tmp_path / "evo_bad")
    encode_table(docs, out, bucket_expr=F.lit(0), n_buckets=1,
                 chunk_rows=256, resume=False)
    mutated = docs.withColumn("lang", F.lit(7).cast("long"))
    with pytest.raises(ValueError, match="cannot change column 'lang'"):
        encode_table(mutated, out, bucket_expr=F.lit(1), n_buckets=2,
                     chunk_rows=256, resume=False)


def test_catalog_survives_session_restart_shape(spark, docs, tmp_path):
    """save_catalog + restore_catalog: drop every temp view (the
    stand-in for a fresh session) and restore from the JSON catalog."""
    out = str(tmp_path / "cat_t1")
    encode_table(docs, out, bucket_expr=F.lit(0), n_buckets=1,
                 chunk_rows=512, resume=False)
    cat = str(tmp_path / "_catalog.json")
    save_catalog(cat, "docs_enc", out)
    spark.catalog.dropTempView("docs_enc") if "docs_enc" in [
        t.name for t in spark.catalog.listTables()] else None

    restored = restore_catalog(spark, cat)
    assert set(restored) == {"docs_enc"}
    n = spark.sql("SELECT count(*) AS n FROM docs_enc").collect()[0]["n"]
    assert n == docs.count()
    # a vanished table must not break restoring the others
    out2 = str(tmp_path / "cat_gone")
    encode_table(docs.limit(10), out2, bucket_expr=F.lit(0), n_buckets=1,
                 resume=False)
    save_catalog(cat, "gone", out2)
    import shutil
    shutil.rmtree(out2)
    restored = restore_catalog(spark, cat)
    assert restored["docs_enc"] is not None and restored["gone"] is None


def test_partitioned_null_ts_raises_clear_error(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, "2026-01-01 05:30:00")],
        "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("warc_ts"))
    with pytest.raises(ValueError, match="NULL"):
        encode_table_partitioned(df, str(tmp_path / "hp_null"))


def test_partitioned_resume_rejects_append_into_done_hour(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, "2026-01-01 05:30:00") for i in range(20)],
        "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("warc_ts"))
    out = str(tmp_path / "hp_resume")
    encode_table_partitioned(base, out)
    # identical replay: fine (resume no-op)
    encode_table_partitioned(base, out)
    # new rows in a committed hour: loud failure, not silent loss
    more = spark.createDataFrame(
        [(i, "2026-01-01 05:45:00") for i in range(100, 110)],
        "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("warc_ts"))
    with pytest.raises(ValueError, match="already committed"):
        encode_table_partitioned(base.unionAll(more), out)


def test_partitioned_resume_accepts_bucket_col_layout_record(spark, tmp_path):
    """An hourly store whose _layout.json records {"layout": "bucket_col"}
    (written before the hour ids became a bucket_expr) resumes as a
    no-op: every hour is skipped and the rows read back unchanged."""
    df = spark.createDataFrame(
        [(i, f"2026-01-01 0{i % 3}:30:00") for i in range(30)],
        "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("warc_ts"))
    out = str(tmp_path / "hp_old_layout")
    encode_table_partitioned(df, out, chunk_rows=4)
    with open(os.path.join(out, "_layout.json"), "w") as f:
        json.dump({"layout": "bucket_col"}, f)

    def written():
        return {os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
                for sub in ("chunks", "manifest")
                for d, _, names in os.walk(os.path.join(out, sub))
                for n in names}

    before = written()
    assert sum(p.endswith(".parquet") for p in before) == 3   # 3 hours
    encode_table_partitioned(df, out, chunk_rows=4, resume=True)
    assert written() == before
    assert sorted(r["id"] for r in decode_table(spark, out).collect()) \
        == list(range(30))


def test_bucket_col_layout_record_without_hours_refuses_resume(spark,
                                                              tmp_path):
    """Only an hourly store (one with _hour_buckets.json) reads a
    {"layout": "bucket_col"} record as bucket_expr.  A caller's bucket_col
    store did not store its routing column; resuming it with
    bucket_expr=F.col(...) would add that column, NULL in every committed
    bucket, so the resume is refused and nothing is rewritten."""
    df = spark.range(12).withColumn("b", (F.col("id") % 3).cast("int"))
    out = str(tmp_path / "bucket_col_store")
    encode_table(df, out, bucket_expr=F.col("b"), n_buckets=3)
    layout = os.path.join(out, "_layout.json")
    with open(layout, "w") as f:
        json.dump({"layout": "bucket_col"}, f)
    with pytest.raises(ValueError, match="cannot resume"):
        encode_table(df, out, bucket_expr=F.col("b"), n_buckets=3)
    with open(layout) as f:
        assert json.load(f) == {"layout": "bucket_col"}


@pytest.mark.parametrize("stamps", [
    # dense: three days with gap hours, looked up in the literal array
    [f"2026-01-0{d} {h:02d}:15:00" for d in (1, 2, 3) for h in (0, 7, 23)],
    # sparse: a stray far-off hour, looked up in the literal map
    ["2026-01-01 05:15:00", "2026-01-01 06:15:00", "2031-07-04 00:15:00"],
])
def test_partitioned_routes_each_row_to_its_hour(spark, tmp_path, stamps):
    """Every row lands in the dt=/hr= directory of its own timestamp, on
    both lookups of the hour-id bucket expression."""
    df = spark.createDataFrame(
        [(i, stamps[i % len(stamps)]) for i in range(4 * len(stamps))],
        "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("warc_ts"))
    out = str(tmp_path / "hp_route")
    encode_table_partitioned(df, out, chunk_rows=3)
    got = decode_table(spark, out)
    assert sorted(r["id"] for r in got.collect()) \
        == list(range(4 * len(stamps)))
    for dt, hr in {(s[:10], s[11:13]) for s in stamps}:
        part = decode_table(spark, out, path_glob=f"*/dt={dt}/hr={hr}/*")
        want = sorted(i for i in range(4 * len(stamps))
                      if stamps[i % len(stamps)][:13] == f"{dt} {hr}")
        assert sorted(r["id"] for r in part.collect()) == want


def test_partitioned_into_store_with_many_recorded_hours(spark, tmp_path):
    """New hours get ids past every recorded one, and the shuffle is sized
    by the snapshot's hours, so ids far above the partition count still
    land each row in its own hour's directory and manifest."""
    out = str(tmp_path / "hp_aged")
    os.makedirs(out)
    old = {f"2025-01-{d:02d}/{h:02d}": 24 * (d - 1) + h
           for d in range(1, 11) for h in range(24)}
    with open(os.path.join(out, "_hour_buckets.json"), "w") as f:
        json.dump(old, f)
    df = spark.createDataFrame(
        [(i, f"2026-02-01 0{i % 3}:20:00") for i in range(12)],
        "id long, ts string").select(
        "id", F.col("ts").cast("timestamp").alias("warc_ts"))
    mf = encode_table_partitioned(df, out)
    assert sorted((r["bucket"], r["n_rows"]) for r in mf.collect()) \
        == [(240, 4), (241, 4), (242, 4)]
    for hr in range(3):
        part = decode_table(spark, out,
                            path_glob=f"*/dt=2026-02-01/hr=0{hr}/*")
        assert sorted(r["id"] for r in part.collect()) \
            == [i for i in range(12) if i % 3 == hr]


def test_partitioned_keeps_user_dt_and_hr_columns(spark, tmp_path):
    """The hourly layout derives its dt/hr keys without touching the
    frame: a user column named dt or hr is stored like any other (the
    hour-key join used to overwrite and then drop both)."""
    df = spark.createDataFrame(
        [(i, f"batch-{i}", i * 10, f"2026-01-01 0{i % 2}:10:00")
         for i in range(6)],
        "id long, dt string, hr long, ts string").select(
        "id", "dt", "hr", F.col("ts").cast("timestamp").alias("warc_ts"))
    out = str(tmp_path / "hp_user_dt")
    encode_table_partitioned(df, out)
    back = decode_table(spark, out)
    assert back.columns == df.columns
    assert sorted(back.select("id", "dt", "hr").collect()) \
        == sorted(df.select("id", "dt", "hr").collect())


def test_decode_tables_unions_evolved_schemas(spark, docs, tmp_path):
    """A stream whose schema widened across restarts decodes as ONE
    table: decode_table over the stream root applies the same add-only
    union as write-side evolution, null-filling older batches."""
    root = tmp_path / "stream"
    d1 = str(root / "batch=000000")
    d2 = str(root / "batch=000001")
    encode_table(docs.filter(F.col("doc_id") < 100), d1,
                 bucket_expr=F.lit(0), n_buckets=1, resume=False)
    encode_table(docs.filter(F.col("doc_id") >= 100)
                 .withColumn("score", (F.col("doc_id") * 3).cast("long")),
                 d2, bucket_expr=F.lit(0), n_buckets=1, resume=False)
    dec = decode_table(spark, str(root))
    assert set(dec.columns) == {"doc_id", "text", "lang", "score"}
    assert dec.count() == docs.count()
    assert dec.filter("doc_id < 100 AND score IS NOT NULL").count() == 0
    assert dec.filter("doc_id >= 100 AND score != doc_id * 3").count() == 0

    # genuine type conflict still raises
    d3 = str(root / "batch=000002")
    encode_table(docs.withColumn("lang", F.lit(1).cast("long")), d3,
                 bucket_expr=F.lit(0), n_buckets=1, resume=False)
    with pytest.raises(ValueError, match="cannot change column"):
        decode_table(spark, str(root)).count()


def test_evolved_store_pruned_and_zone_filtered_decode(spark, docs, tmp_path):
    """Interaction surface: column-pruned + zone-filtered decode over an
    evolved store.  Old chunks lack the added column entirely (no data,
    no zone stats): pruned reads must null-fill it and a zone filter on
    the evolved column must keep statless chunks conservatively."""
    out = str(tmp_path / "evo_zone")
    encode_table(docs.filter("doc_id % 2 = 0"), out, bucket_expr=F.lit(0),
                 n_buckets=1, chunk_rows=64, order_cols=("doc_id",),
                 resume=False)
    encode_table(docs.filter("doc_id % 2 = 1")
                 .withColumn("score", (F.col("doc_id") * 2).cast("long")),
                 out, bucket_expr=F.lit(1), n_buckets=2, chunk_rows=64,
                 order_cols=("doc_id",), resume=False)
    dec = decode_table(spark, out, columns=["doc_id", "score"],
                       zone_filter=("doc_id", 50, 99))
    rows = dec.filter("doc_id BETWEEN 50 AND 99").collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(50, 100))
    for r in rows:
        assert r["score"] == (None if r["doc_id"] % 2 == 0
                              else r["doc_id"] * 2)
    # zone filter on the EVOLVED column: old statless chunks stay in scan
    n = decode_table(spark, out, columns=["doc_id", "score"],
                     zone_filter=("score", 100, 120)).count()
    assert n > 0


# --- round-3: concurrent-writer serialization (VERDICT r2 missing #3, ---
# --- ADVICE r2 schema-evolution race) ----------------------------------

def test_concurrent_save_catalog_keeps_all_entries(tmp_path):
    """Two interleaved writer threads registering different tables must
    both survive — the lock file serializes the read-modify-write that
    last-writer-wins JSON used to lose."""
    import json
    import threading
    from dumpster.engine import save_catalog

    cat = str(tmp_path / "catalog.json")
    errs = []

    def writer(prefix):
        try:
            for i in range(25):
                save_catalog(cat, f"{prefix}_{i}", f"/data/{prefix}/{i}")
        except Exception as e:            # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(p,)) for p in
          ("alpha", "beta", "gamma")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    with open(cat) as f:
        entries = json.load(f)
    assert len(entries) == 75
    for p in ("alpha", "beta", "gamma"):
        for i in range(25):
            assert entries[f"{p}_{i}"]["path"] == f"/data/{p}/{i}"


def test_concurrent_schema_evolution_keeps_both_columns(tmp_path):
    """Two concurrent encodes each adding a different column: with the
    lock both columns reach _schema.json (the loser used to be silently
    dropped from decode)."""
    import threading
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)
    from dumpster.engine import _publish_table_schema, table_schema

    out = str(tmp_path)
    base = StructType([StructField("id", LongType())])
    _publish_table_schema(out, base)
    errs = []

    def evolve(colname):
        try:
            _publish_table_schema(out, StructType(
                base.fields + [StructField(colname, StringType())]))
        except Exception as e:            # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=evolve, args=(c,))
          for c in ("x", "y", "z", "w")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    names = [f.name for f in table_schema(out).fields]
    assert names[0] == "id" and set(names) == {"id", "x", "y", "z", "w"}


def test_file_lock_crashed_holder_never_blocks(tmp_path):
    """A lock is held exactly while its holder's process lives: a leftover
    file, however fresh, and a holder killed mid-section leave the lock
    free; a live holder (a thread here) still makes a waiter time out,
    and the timeout names it."""
    import os
    import signal
    import subprocess
    import sys
    import threading

    import pytest
    from dumpster import fs as fslib

    lock = str(tmp_path / "x.lock")
    with open(lock, "w") as f:
        f.write("dead@host")               # fresh mtime, no live holder
    with fslib.file_lock(lock, timeout=1.0):
        pass

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = ("import sys, time\n"
              "from dumpster import fs\n"
              "with fs.file_lock(sys.argv[1], timeout=5):\n"
              "    print('held', flush=True)\n"
              "    time.sleep(60)\n")
    p = subprocess.Popen([sys.executable, "-c", script, lock],
                         stdout=subprocess.PIPE, text=True,
                         env=dict(os.environ, PYTHONPATH=repo))
    try:
        assert p.stdout.readline() == "held\n"
    finally:
        p.send_signal(signal.SIGKILL)
        p.wait()
        p.stdout.close()
    assert os.path.exists(lock)            # killed: no release ran
    with fslib.file_lock(lock, timeout=1.0):
        pass

    held, release = threading.Event(), threading.Event()

    def holder():
        with fslib.file_lock(lock, timeout=5):
            held.set()
            release.wait(30)

    t = threading.Thread(target=holder)
    t.start()
    try:
        assert held.wait(10)
        with pytest.raises(TimeoutError, match=f"{os.getpid()}@"):
            with fslib.file_lock(lock, timeout=0.3):
                pass
    finally:
        release.set()
        t.join(30)
    assert not t.is_alive()

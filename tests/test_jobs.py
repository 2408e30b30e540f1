"""YAML job runner (O1/O2 parity): config → encode jobs → views."""

import os

from dumpster.engine import decode_table
from dumpster.jobs import load_config, run_jobs

SF = "/root/testdata/sf0.001"


def test_yaml_config_runs_tables_and_registers_views(spark, tmp_path):
    cfg_path = tmp_path / "job.yml"
    out = tmp_path / "enc"
    cfg_path.write_text(f"""
output:
  path: {out}
  mode: local
  chunk_rows: 1024
catalog:
  register_views: true
  prefix: dm_
tables:
  - name: documents
    input: {SF}/documents.parquet
  - name: events
    input: {SF}/events.parquet
    mode: hourly
    ts_col: ts
""")
    cfg = load_config(str(cfg_path))
    assert [t.name for t in cfg.tables] == ["documents", "events"]

    results = run_jobs(spark, cfg)
    by = {r["table"]: r for r in results}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    assert by["documents"]["rows"] == docs.count()
    assert by["events"]["rows"] == ev.count()
    assert by["documents"]["view"] == "dm_documents"

    # views queryable via SQL; decoded tables exact
    assert spark.sql("SELECT count(*) FROM dm_documents").collect()[0][0] \
        == docs.count()
    dec = decode_table(spark, by["events"]["out"])
    assert ev.exceptAll(dec).count() == 0 and dec.exceptAll(ev).count() == 0
    # hourly mode wrote the reference tree
    import glob
    assert glob.glob(os.path.join(by["events"]["out"], "chunks",
                                  "dt=*", "hr=*", "*.dmc"))

    # re-running the same config is the reference's restart: resume-safe.
    # The reported row counts alone cannot catch a resume bug that
    # APPENDS a second copy (they report the input size) — re-check the
    # stores' actual contents after the second run (round-5 review
    # finding)
    results2 = run_jobs(spark, cfg)
    assert {r["table"]: r["rows"] for r in results2} == \
        {r["table"]: r["rows"] for r in results}
    assert spark.sql("SELECT count(*) FROM dm_documents").collect()[0][0] \
        == docs.count()
    dec2 = decode_table(spark, by["events"]["out"])
    assert dec2.count() == ev.count()
    assert ev.exceptAll(dec2).count() == 0 and dec2.exceptAll(ev).count() == 0


def test_stream_hourly_mode(spark, tmp_path):
    """Per-topic streaming surface (TopicProperties parity): a
    stream_hourly table drains the input as micro-batches into the
    batch=N/dt=/hr= tree and registers a cross-batch view."""
    import pyspark.sql.functions as F
    from dumpster.jobs import JobConfig, TableJob, run_jobs

    src = str(tmp_path / "src")
    (spark.createDataFrame(
        [(i, f"2026-01-01 {i % 4:02d}:15:00") for i in range(40)],
        "id long, ts string")
     .select("id", F.col("ts").cast("timestamp").alias("warc_ts"))
     .write.parquet(src))

    cfg = JobConfig(out_path=str(tmp_path / "out"), register_views=True,
                    view_prefix="sj_")
    cfg.tables.append(TableJob(name="ev", input=src, mode="stream_hourly",
                               chunk_rows=512))
    res = run_jobs(spark, cfg)
    assert res[0]["rows"] == 40 and res[0]["view"] == "sj_ev"
    got = spark.sql("SELECT count(*) AS n FROM sj_ev").collect()[0]["n"]
    assert got == 40
    import glob as g
    assert g.glob(str(tmp_path / "out" / "ev" / "batch=*" /
                      "chunks" / "dt=2026-01-01" / "hr=*"))
    # watermarked hourly-counts side table (G4 declarative form): append
    # mode emits a window only once the watermark passes it — max event
    # time is 03:15, watermark 2h -> only [00:00, 01:00) has closed.
    # Hours 1-3 are retained as state, exactly the reference's "window
    # stays open until quiet period / forget timeout" behavior.
    counts = spark.read.parquet(str(tmp_path / "out" / "ev" / "_hourly_counts"))
    got = {(r["hour_start"].hour): r["n"] for r in counts.collect()}
    assert got == {0: 10}


def test_salted_sizing_is_refused_for_split_local_tables(tmp_path):
    """n_buckets/salt_k only size the salted layout.  A config that sets
    them where a table resolves to the split-local default is refused
    before any table is encoded (so no Spark session is needed), not
    silently run with one bucket per input split; output-level values
    are cast to int, and are fine when every table they reach is
    salted."""
    import pytest

    from dumpster.jobs import TableJob

    cfg_path = tmp_path / "job.yml"
    cfg_path.write_text(f"""
output:
  path: {tmp_path / "enc"}
  n_buckets: "64"
  salt_k: "2"
tables:
  - name: pages
    input: {SF}/documents.parquet
    mode: salted
  - name: docs
    input: {SF}/documents.parquet
""")
    cfg = load_config(str(cfg_path))
    assert (cfg.n_buckets, cfg.salt_k) == (64, 2)
    with pytest.raises(ValueError, match="docs: n_buckets, salt_k .*"
                                         "mode: salted"):
        run_jobs(None, cfg)

    cfg.n_buckets = cfg.salt_k = None
    cfg.tables[1] = TableJob(name="docs", input=cfg.tables[1].input,
                             n_buckets=8)
    with pytest.raises(ValueError, match="docs: n_buckets size"):
        run_jobs(None, cfg)
    assert not (tmp_path / "enc").exists()

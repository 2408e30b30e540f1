"""Relational-prep operator semantics (reference parity edge cases §5.2.5)."""

import datetime
import os
import subprocess
import sys

from pyspark.sql import Row, functions as F

import dumpster
from dumpster import pipeline


def test_host_extraction(spark):
    df = spark.createDataFrame(
        [("https://h1.example.com/p/1",),
         ("http://user@h2.example.net:8080/x?q=1",),
         ("not a url",)], "url string")
    out = [r[0] for r in df.select(pipeline.host_of("url")).collect()]
    assert out == ["h1.example.com", "h2.example.net", ""]


def test_engine_import_chain_leaves_pandas_out():
    # every DataSource planner process imports dumpster.datasource; pandas
    # would add a few hundred ms to each of them for one regex
    root = os.path.dirname(os.path.dirname(os.path.abspath(dumpster.__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        filter(None, [root, os.environ.get("PYTHONPATH")])))
    out = subprocess.run(
        [sys.executable, "-c",
         "import sys, dumpster.datasource; print('pandas' in sys.modules)"],
        env=env, cwd=root, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False", out.stdout + out.stderr


def test_salted_bucket_range_and_determinism(spark):
    df = spark.range(1000).select(
        F.concat(F.lit("https://hot.example.com/p/"), F.col("id")).alias("url"))
    b = df.select(pipeline.salted_bucket("url", 32, salt_k=4).alias("b"))
    rows = [r["b"] for r in b.collect()]
    assert all(0 <= x < 32 for x in rows)
    # one hot host spreads over exactly salt_k buckets (the skew break)
    assert len(set(rows)) == 4
    rows2 = [r["b"] for r in b.collect()]
    assert rows == rows2


def test_hour_partition_inclusive_bounds(spark):
    """Reference clamps windows to [HH:00:00.000, HH:59:59.999]
    (HourlyBasedRecordConsumer.java:133-153) — both edges stay in-hour."""
    ts = [
        datetime.datetime(2026, 1, 1, 13, 0, 0, 0),
        datetime.datetime(2026, 1, 1, 13, 59, 59, 999000),
        datetime.datetime(2026, 1, 1, 14, 0, 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t in ts], "warc_ts timestamp")
    out = pipeline.hour_partition(df).select("dt", "hr").collect()
    assert [(r["dt"], r["hr"]) for r in out] == [
        ("2026-01-01", 13), ("2026-01-01", 13), ("2026-01-01", 14)]


def test_dedup_replays_drops_regressed_offsets(spark):
    """F1: replays of the same (partition, offset) collapse to one row
    (HourlyBasedPartitioner.java:199-202)."""
    rows = [Row(partition=0, offset=5, v="a"),
            Row(partition=0, offset=5, v="a"),     # replay → dropped
            Row(partition=0, offset=6, v="b"),
            Row(partition=1, offset=5, v="c")]     # other partition kept
    df = spark.createDataFrame(rows)
    out = pipeline.dedup_replays(df, "partition", "offset")
    assert out.count() == 3
    assert out.filter((F.col("partition") == 0) & (F.col("offset") == 5)).count() == 1


def test_meta_project_prepends_struct(spark):
    df = spark.createDataFrame(
        [Row(key="k1", off=10, part=2, ts=1000, payload="x")])
    out = pipeline.meta_project(df, "key", "off", "part", "ts")
    assert out.columns[0] == "metadata"
    m = out.select("metadata.*").collect()[0]
    assert (m["id"], m["offset"], m["partition"], m["timestamp"]) == \
        ("k1", 10, 2, 1000)
    # payload fields shifted right, all preserved
    assert out.columns == ["metadata", "key", "off", "part", "ts", "payload"]


def test_classify_records_three_way(spark):
    df = spark.createDataFrame(
        [Row(value="x", err=None), Row(value=None, err=None),
         Row(value="y", err="boom")])
    out = pipeline.classify_records(df, "value", "err")
    got = [r["record_type"] for r in out.collect()]
    assert got == ["RECORD", "TOMBSTONE", "ERROR"]


def test_prep_for_encode_is_bucket_contiguous(spark):
    from dumpster.synth import synth_pages
    df = synth_pages(spark, 1000, seed=1)
    prepped = pipeline.prep_for_encode(df, "url", n_buckets=8)

    # every partition must hold each bucket as one contiguous range
    def per_part(idx, rows):
        seen, prev = set(), None
        for r in rows:
            b = r["__bucket"]
            if b != prev:
                assert b not in seen, f"bucket {b} not contiguous in part {idx}"
                seen.add(b)
                prev = b
        return iter([])
    prepped.rdd.mapPartitionsWithIndex(per_part).count()


def test_salting_bounds_host_skew(spark):
    """The zipf head host pins one bucket without salting; with salt_k the
    hot host spreads over salt_k buckets and the max/mean bucket size must
    come down accordingly (this is the explicit skew-handling knob the
    scale design relies on)."""
    from dumpster.pipeline import salted_bucket
    from dumpster.synth import synth_pages

    pages = synth_pages(spark, 20000, seed=3).select("url")

    def max_over_mean(salt_k):
        sizes = (pages.withColumn(
            "b", salted_bucket("url", n_buckets=32, salt_k=salt_k))
            .groupBy("b").count().collect())
        counts = [r["count"] for r in sizes]
        return max(counts) / (sum(counts) / len(counts))

    unsalted = max_over_mean(1)
    salted = max_over_mean(8)
    assert unsalted > 3.0          # the zipf head really is a hot bucket
    assert salted < unsalted / 2   # salting spreads it
    assert salted < 3.0

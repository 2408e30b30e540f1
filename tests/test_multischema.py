"""G2 STRICT parity: multi-schema routing within one batch, plus the
jarless Kafka front-door plan pin (VERDICT r2 items 5 and 9).

The reference opens one writer per distinct Avro schema met inside a
batch (HourlyBasedRecordConsumer.java:20, :60-67).  Here one call routes
a mixed DataFrame by schema id into per-generation chunks of each
generation's OWN schema (absent != null), united on read through the
evolution path.
"""

import os

import pyspark.sql.functions as F
import pytest

from dumpster.engine import (decode_table, encode_table_multischema,
                             table_schema)


def _mixed(spark):
    """Rows from two generations in ONE frame: gen 1 has (doc_id, lang),
    gen 2 added score.  The superset frame carries nulls where a row's
    generation lacks the column — the schemas map says which columns
    each generation actually owns."""
    g1 = spark.range(0, 300).select(
        F.lit(1).alias("schema_id"), F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 3).cast("string")).alias("lang"),
        F.lit(None).cast("double").alias("score"))
    g2 = spark.range(300, 500).select(
        F.lit(2).alias("schema_id"), F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 3).cast("string")).alias("lang"),
        (F.col("id") / 10.0).alias("score"))
    return g1.unionByName(g2)


SCHEMAS = {1: ["doc_id", "lang"], 2: ["doc_id", "lang", "score"]}


def test_one_call_routes_both_generations(spark, tmp_path):
    out = str(tmp_path / "ms")
    man = encode_table_multischema(
        _mixed(spark), out, schemas=SCHEMAS, n_buckets=4, chunk_rows=64)
    # generations land in disjoint bucket namespaces
    buckets = {r["bucket"] for r in man.select("bucket").distinct().collect()}
    assert buckets & set(range(0, 4)) and buckets & set(range(4, 8))
    # stored schema evolved add-only to the union
    assert [f.name for f in table_schema(out).fields] == \
        ["doc_id", "lang", "score"]
    dec = decode_table(spark, out)
    assert dec.count() == 500
    # gen-1 rows: score null-filled on decode; gen-2 rows carry values
    assert dec.filter("doc_id < 300 AND score IS NOT NULL").count() == 0
    assert dec.filter("doc_id >= 300 AND score IS NULL").count() == 0
    got = dec.filter("doc_id = 420").collect()[0]
    assert got["score"] == 42.0 and got["lang"] == "l0"


def test_gen1_chunks_do_not_contain_gen2_columns(spark, tmp_path):
    """Absent vs null: an old generation's chunk files must not store the
    new column at all (the reference writes per-schema files)."""
    from dumpster.chunk import decode_chunk_file
    out = str(tmp_path / "ms2")
    encode_table_multischema(_mixed(spark), out, schemas=SCHEMAS,
                             n_buckets=2, chunk_rows=1024)
    gen1 = [f for f in os.listdir(os.path.join(out, "chunks"))
            if f.startswith(("b000000", "b000001"))]
    gen2 = [f for f in os.listdir(os.path.join(out, "chunks"))
            if f.startswith(("b000002", "b000003"))]
    assert gen1 and gen2
    b1 = decode_chunk_file(os.path.join(out, "chunks", gen1[0]))
    b2 = decode_chunk_file(os.path.join(out, "chunks", gen2[0]))
    assert b1.schema.names == ["doc_id", "lang"]
    assert b2.schema.names == ["doc_id", "lang", "score"]


def test_unknown_schema_id_raises(spark, tmp_path):
    bad = _mixed(spark).withColumn(
        "schema_id", F.when(F.col("doc_id") == 99, F.lit(7))
        .otherwise(F.col("schema_id")))
    with pytest.raises(ValueError, match="schema ids outside"):
        encode_table_multischema(bad, str(tmp_path / "msbad"),
                                 schemas=SCHEMAS, n_buckets=2)


def test_confluent_stream_plan_pinned(spark):
    """Item 9: the Kafka decode path can't run jarless, but its ANALYZED
    plan is decoder-independent everywhere except from_avro — pin the
    wire-format strip, the metadata projection, and the routing CASE
    against golden fragments so silent regressions surface."""
    from dumpster.streaming import decode_confluent_stream

    raw = spark.createDataFrame(
        [], "key binary, value binary, topic string, partition int, "
            "offset long, timestamp timestamp")
    out = decode_confluent_stream(
        raw, None, value_decoder=lambda body: body.cast("string"))
    import re
    plan = re.sub(r"#\d+L?", "",
                  out._jdf.queryExecution().analyzed().toString())
    # Confluent wire format: magic byte + 4-byte registry id stripped
    assert "substring(value, 6, (length(value) - 5))" in plan
    # P1 metadata struct: every field present, offset/partition typed
    assert re.search(r"struct\(id, cast\(key as string\), offset, "
                     r"cast\(offset as bigint\), partition, "
                     r"cast\(partition as int\), timestamp, "
                     r"unix_millis\(timestamp\)\)", plan)
    # P3 routing: tombstone on null raw value, error on undecodable
    assert "TOMBSTONE" in plan and "ERROR" in plan and "RECORD" in plan
    assert out.columns == ["metadata", "record", "record_type"]
    # the strip really must be 5 bytes (1 magic + 4 id), starting at 6
    # (SQL substring is 1-based) — a off-by-one here corrupts every record
    assert "substring(value, 5" not in plan
    assert "substring(value, 7" not in plan

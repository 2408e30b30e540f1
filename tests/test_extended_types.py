"""decimal128 and list<string|binary> through the chunk layer.

The reference passes arbitrary Avro payload types through to parquet-avro
untouched (AvroToHive.java:29-37, SURVEY.md §1.3); the codec layer's type
lattice must therefore cover more than the five web-page columns.  These
tests pin the bit-identity round-trip for the extended kinds, including
nulls, negative/extreme decimals, and empty/long string lists.
"""

import decimal

import pyarrow as pa
import pytest

from dumpster.chunk import decode_chunk, encode_chunk


def ipc(b: pa.RecordBatch) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, b.schema) as w:
        w.write_batch(b)
    return sink.getvalue().to_pybytes()


def roundtrip(batch: pa.RecordBatch) -> None:
    blob, stats = encode_chunk(batch, table_id="ext", bucket=0, chunk_seq=0)
    out = decode_chunk(blob)
    assert ipc(out) == ipc(batch)
    return stats


def test_decimal128_small_scale_roundtrip():
    D = decimal.Decimal
    vals = [D("1.23"), D("-99999.99"), None, D("0.00"), D("42.42")] * 40
    batch = pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.decimal128(9, 2))], names=["price"])
    roundtrip(batch)


def test_decimal128_extreme_precision_roundtrip():
    D = decimal.Decimal
    big = D(10) ** 37 - 1
    vals = [big, -big, D(0), D(1), -D(1), None]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.decimal128(38, 0))], names=["huge"])
    roundtrip(batch)


def test_decimal128_hi_half_compresses_away():
    D = decimal.Decimal
    vals = [D(i) / 100 for i in range(2000)]   # all fit in 64 bits
    batch = pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.decimal128(18, 2))], names=["d"])
    stats = roundtrip(batch)
    # 16 B/value raw; the hi half must vanish under RLE/FOR so the decimal
    # costs about what an int64 column would
    assert stats[0]["encoded_bytes"] < 2000 * 9


def test_list_of_strings_roundtrip():
    vals = [["a", "bb", "ccc"], [], None, ["", "x" * 500], ["dup", "dup"]] * 30
    batch = pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.list_(pa.string()))], names=["tags"])
    roundtrip(batch)


def test_list_of_binary_non_utf8_roundtrip():
    vals = [[b"\xff\x00\xfe", b""], None, [bytes(range(256))]] * 25
    batch = pa.RecordBatch.from_arrays(
        [pa.array(vals, type=pa.list_(pa.binary()))], names=["blobs"])
    roundtrip(batch)


def test_mixed_extended_batch():
    D = decimal.Decimal
    n = 120
    batch = pa.RecordBatch.from_arrays(
        [pa.array([D(i) / 10 for i in range(n)], type=pa.decimal128(12, 1)),
         pa.array([["t", f"v{i % 7}"] for i in range(n)],
                  type=pa.list_(pa.string())),
         pa.array(list(range(n)), type=pa.int64())],
        names=["dec", "tags", "k"])
    roundtrip(batch)


def test_unsupported_type_still_raises():
    batch = pa.RecordBatch.from_arrays(
        [pa.array([[[1]], [[2]]], type=pa.list_(pa.list_(pa.int64())))],
        names=["nested"])
    with pytest.raises(TypeError):
        encode_chunk(batch, table_id="ext", bucket=0, chunk_seq=0)


def test_engine_roundtrip_decimal_and_string_lists(spark, tmp_path):
    """Spark DecimalType + array<string> through the full mapInArrow
    encode/decode pipeline (schema travels via Arrow IPC in the chunks)."""
    from pyspark.sql import functions as F

    from dumpster.engine import decode_table, encode_table

    df = (spark.range(3000)
          .select(F.col("id"),
                  (F.col("id").cast("decimal(20,3)") / 7).alias("price"),
                  F.array(F.concat(F.lit("t"), (F.col("id") % 5).cast("string")),
                          F.lit("const")).alias("tags"),
                  F.when(F.col("id") % 11 == 0, None)
                  .otherwise((F.col("id").cast("decimal(38,10)") * -3))
                  .alias("big")))
    out = str(tmp_path / "exttab")
    encode_table(df, out, mode="salted",
                 n_buckets=4, chunk_rows=512, table_id="ext")
    dec = decode_table(spark, out)
    # names/types identical; decode reports every field NULLABLE by
    # design (a later shrinking-schema writer's chunks may lack any
    # column, which decode null-fills — nullable=False would lie to
    # Catalyst and constant-fold IS NULL away)
    assert [(f.name, f.dataType) for f in dec.schema.fields] \
        == [(f.name, f.dataType) for f in df.schema.fields]
    assert all(f.nullable for f in dec.schema.fields)
    assert df.exceptAll(dec).count() == 0
    assert dec.exceptAll(df).count() == 0


def test_wide_adversarial_table_roundtrip(spark, tmp_path):
    """62 mixed columns: nulls, empty strings, NaN bit patterns, negative
    ints, unicode, zero-length binary, constant columns — all through the
    full engine, bit-identical."""
    import pyspark.sql.functions as F
    from dumpster.engine import decode_table, encode_table

    base = spark.range(0, 1200)
    cols = [F.col("id")]
    for i in range(12):
        cols += [
            (F.col("id") * (i + 1) - 600).cast("long").alias(f"i{i}"),
            F.when(F.col("id") % 7 == i % 7, None).otherwise(
                F.col("id") / (i + 0.5)).alias(f"d{i}"),
            F.when(F.col("id") % 5 == 0, F.lit("")).otherwise(
                F.concat(F.lit("véç中-" * (i % 3 + 1)),
                         F.col("id"))).alias(f"s{i}"),
            F.when(F.col("id") % 11 == 0, None).otherwise(
                F.encode(F.concat(F.lit("b"), F.col("id")),
                         "utf-8")).alias(f"b{i}"),
            F.lit(f"const{i}").alias(f"c{i}"),
        ]
    df = base.select(*cols).withColumn(
        "nan", F.when(F.col("id") % 3 == 0,
                      float("nan")).otherwise(F.col("id") * 1.0))
    out = str(tmp_path / "wide")
    encode_table(df, out,
                 bucket_expr=F.pmod(F.xxhash64("id"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=256, table_id="wide")
    dec = decode_table(spark, out)
    assert df.exceptAll(dec).count() == 0
    assert dec.exceptAll(df).count() == 0

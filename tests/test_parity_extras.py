"""Reference-parity extras: schema evolution (G2), SQL view registration
(K4), plain-only fallback path (S3-parity), codec selection report."""

from pyspark.sql import Row, functions as F

from dumpster.engine import encode_table, decode_table, register_decoded_view
from dumpster.pipeline import union_evolving
from dumpster.chunk import encode_chunk, decode_chunk
import pyarrow as pa


def test_union_evolving_superset_schema(spark):
    v1 = spark.createDataFrame([Row(a=1, b="x")])
    v2 = spark.createDataFrame([Row(a=2, c=3.5)])          # b dropped, c added
    out = union_evolving([v1, v2])
    assert set(out.columns) == {"a", "b", "c"}
    rows = {r["a"]: r for r in out.collect()}
    assert rows[1]["c"] is None and rows[2]["b"] is None


def test_register_decoded_view_sql(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "enc")
    encode_table(docs, out,
                 bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=256)
    register_decoded_view(spark, out, "docs_encoded")
    n = spark.sql("SELECT count(*) AS n FROM docs_encoded").collect()[0]["n"]
    assert n == docs.count()
    per_lang = spark.sql(
        "SELECT lang, count(*) n FROM docs_encoded GROUP BY lang").count()
    assert per_lang == docs.select("lang").distinct().count()


def _ipc_bytes(batch: pa.RecordBatch) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def _every_kind_batch(n: int = 1200) -> pa.RecordBatch:
    """One column per chunk kind, with nulls and NaNs; n is above the
    bloom threshold so a selected encode would build blooms and bounds."""
    import decimal
    ts = [None if i % 11 == 0 else 1767225600_000_000 + i * 1000
          for i in range(n)]
    return pa.RecordBatch.from_arrays(
        [pa.array(["aa", "bb", "aa"] * (n // 3)),
         pa.array(list(range(n)), type=pa.int64()),
         pa.array([None if i % 7 == 0 else i % 5 for i in range(n)],
                  type=pa.int32()),
         pa.array(ts, type=pa.timestamp("us")),
         pa.array([float("nan") if i % 9 == 0 else i / 4 for i in range(n)],
                  type=pa.float32()),
         pa.array([float("nan") if i % 13 == 0 else i * 0.1
                   for i in range(n)], type=pa.float64()),
         pa.array([decimal.Decimal(i) / 100 for i in range(n)],
                  type=pa.decimal128(12, 2)),
         pa.array([bytes([i % 256, 0, 255]) for i in range(n)],
                  type=pa.binary()),
         pa.array([list(range(i % 4)) for i in range(n)],
                  type=pa.list_(pa.int64())),
         pa.array([[f"t{i % 3}", "x"] for i in range(n)],
                  type=pa.list_(pa.string()))],
        names=["s", "i", "i_null", "ts", "f32", "f64", "dec", "bin",
               "l_int", "l_str"])


def _assert_all_plain(blob: bytes, stats: list):
    """Every stat and stored descriptor is PLAIN with no byte stage,
    no string bounds, no bloom, and floats keep their native payload."""
    import json
    import struct

    from dumpster.chunk import _read_footer
    from dumpster.codecs import PLAIN
    for s in stats:
        assert s["codec"] == "plain" and s["zlib"] == 0, s
        assert "bloom" not in s and "smin" not in s, s
    mv = memoryview(blob)
    footer = _read_footer(lambda off, n: mv[off:off + n], len(blob))
    names = [name for name, _, _, _ in footer["cols"]]
    assert names == [s["column"] for s in stats]   # no __bloom: sections
    for name, off, _, _ in footer["cols"]:
        (dlen,) = struct.unpack_from("<I", blob, off)
        desc = json.loads(blob[off + 4:off + 4 + dlen])
        assert desc["codec"] == PLAIN and desc["zlib"] == 0, desc
        assert "__f" not in json.dumps(desc["meta"]), desc
        if desc["kind"] == "d":
            assert desc["meta"]["hic"] == PLAIN and desc["meta"]["hizl"] == 0


def test_plain_only_chunk_roundtrips():
    batch = _every_kind_batch()
    from dumpster.chunk import encode_chunk_pieces
    pieces, stats = encode_chunk_pieces(batch, plain_only=True)
    blob = b"".join(bytes(p) for p in pieces)
    _assert_all_plain(blob, stats)
    out = decode_chunk(blob)
    assert _ipc_bytes(out) == _ipc_bytes(batch)


def test_encoder_fallback_records_the_reason(tmp_path, monkeypatch):
    """A codec failure downgrades the chunk to PLAIN and the manifest's
    col_stats say why (class and message), not just that it happened."""
    import json

    import dumpster.codecs.selector as sel
    from dumpster.chunk import decode_chunk_file
    from dumpster.engine import _make_encoder

    def boom(payload):
        raise RuntimeError("boom")

    batch = _every_kind_batch()
    routed = batch.append_column(
        "__bucket", pa.array([0] * batch.num_rows, type=pa.int32()))
    monkeypatch.setattr(sel, "_maybe_zlib", boom)
    cpus, io_threads = pa.cpu_count(), pa.io_thread_count()
    try:   # the encoder pins both Arrow pools to one thread
        encoder = _make_encoder(str(tmp_path), "t", 10_000,
                                publish_manifest=False)
        rows = [r for mb in encoder(iter([routed])) for r in mb.to_pylist()]
    finally:
        pa.set_cpu_count(cpus)
        pa.set_io_thread_count(io_threads)
    assert len(rows) == 1
    stats = json.loads(rows[0]["col_stats"])
    assert [s["column"] for s in stats] == batch.schema.names
    for s in stats:
        assert s["codec"] == "plain" and s["zlib"] == 0, s
        assert "RuntimeError: boom" in s["fallback"], s
    blob = open(rows[0]["file"], "rb").read()
    _assert_all_plain(blob, stats)
    out = decode_chunk_file(rows[0]["file"])
    assert _ipc_bytes(out) == _ipc_bytes(batch)


def test_codec_selection_report_query(spark):
    import __spark_entry__ as e
    df = e.queries()["codec_selection_report"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    cols = {r["column"] for r in rows}
    assert cols == {"doc_id", "text", "lang", "source", "n_chars"}
    assert all(r["encoded_bytes"] > 0 for r in rows)

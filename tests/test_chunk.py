"""Chunk container round-trip tests — nulls, non-UTF8, timestamps, bools."""

import numpy as np
import pyarrow as pa
import pytest

from dumpster.chunk import decode_chunk, encode_chunk

RNG = np.random.default_rng(7)


def _ipc_bytes(batch: pa.RecordBatch) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def _roundtrip(batch: pa.RecordBatch) -> pa.RecordBatch:
    blob, stats = encode_chunk(batch, table_id="t", bucket=1, chunk_seq=2)
    out = decode_chunk(blob)
    assert out.schema == batch.schema
    assert out.num_rows == batch.num_rows
    # bit-identity, NaN-safe: compare IPC serialisation, not logical equals
    assert _ipc_bytes(out) == _ipc_bytes(batch)
    return out


def test_pages_shaped_batch_roundtrips():
    n = 2000
    urls = [f"https://h{i % 37}.example.com/p/{i}" for i in range(n)]
    ts = pa.array((1767225600_000_000 + np.arange(n) * 900_000).tolist(),
                  type=pa.timestamp("us"))
    html = [bytes([0, 255, 128]) * (i % 50 + 1) if i % 100 else None
            for i in range(n)]
    text = [f"words host{i % 37} " * (i % 20 + 1) for i in range(n)]
    lang = [["pt", "en", "es"][i % 37 % 3] for i in range(n)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(urls), ts, pa.array(html, type=pa.binary()),
         pa.array(text), pa.array(lang)],
        names=["url", "warc_ts", "html", "text", "lang"])
    _roundtrip(batch)


def test_all_null_and_empty_columns():
    batch = pa.RecordBatch.from_arrays(
        [pa.array([None, None, None], type=pa.string()),
         pa.array([None, 1, None], type=pa.int64()),
         pa.array([1.5, None, np.nan], type=pa.float64())],
        names=["s", "i", "f"])
    _roundtrip(batch)


def test_empty_batch():
    batch = pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.string()), pa.array([], type=pa.int64())],
        names=["s", "i"])
    _roundtrip(batch)


def test_mixed_numeric_types_and_bool():
    n = 500
    batch = pa.RecordBatch.from_arrays(
        [pa.array(RNG.integers(-100, 100, n), type=pa.int32()),
         pa.array(RNG.integers(0, 2, n).astype(bool)),
         pa.array(RNG.normal(size=n), type=pa.float64()),
         pa.array(RNG.normal(size=n).astype(np.float32), type=pa.float32()),
         pa.array(RNG.integers(0, 10, n), type=pa.int16())],
        names=["i32", "b", "f64", "f32", "i16"])
    _roundtrip(batch)


def test_crc_detects_corruption():
    batch = pa.RecordBatch.from_arrays([pa.array(["a", "b"])], names=["s"])
    blob, _ = encode_chunk(batch)
    bad = bytearray(blob)
    bad[len(bad) // 2] ^= 0xFF
    with pytest.raises(ValueError, match="crc"):
        decode_chunk(bytes(bad))


def test_pruned_file_read_skips_unrequested_column_bytes(tmp_path):
    """The v2 footer index makes a pruned scan's I/O proportional to the
    requested columns, not the file size (Parquet column-chunk analog)."""
    from dumpster.chunk import decode_chunk_file

    n = 4000
    big = [RNG.integers(0, 256, 900, dtype=np.uint8).tobytes()
           for _ in range(n)]  # ~3.6 MB incompressible column
    lang = [["pt", "en", "es"][i % 3] for i in range(n)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(big, type=pa.binary()), pa.array(lang)],
        names=["html", "lang"])
    blob, _ = encode_chunk(batch)
    fp = tmp_path / "c.dmc"
    fp.write_bytes(blob)

    br = []
    out = decode_chunk_file(str(fp), columns=["lang"], bytes_read=br)
    assert out.schema.names == ["lang"]
    assert out.column(0).to_pylist() == lang
    assert br[0] < len(blob) / 4, (br, len(blob))

    # requested order is preserved and full ranged read matches decode_chunk
    both = decode_chunk_file(str(fp), columns=["lang", "html"])
    assert both.schema.names == ["lang", "html"]
    assert both.column("html").to_pylist() == big
    full = decode_chunk_file(str(fp))
    assert _ipc_bytes(full) == _ipc_bytes(batch)


def test_corruption_detected_in_pruned_column_only(tmp_path):
    """Per-section crc: corrupting one column poisons reads of that column
    but ranged reads of other columns stay valid."""
    from dumpster.chunk import decode_chunk_file

    n = 1000
    batch = pa.RecordBatch.from_arrays(
        [pa.array([RNG.integers(0, 256, 100, dtype=np.uint8).tobytes()
                   for _ in range(n)], type=pa.binary()),
         pa.array([str(i % 5) for i in range(n)])],
        names=["html", "lang"])
    blob, stats = encode_chunk(batch)
    bad = bytearray(blob)
    # flip a byte mid-file: the incompressible html payload (first column)
    # dominates the container, so the midpoint is inside its section
    bad[len(bad) // 2] ^= 0xFF
    fp = tmp_path / "c.dmc"
    fp.write_bytes(bytes(bad))
    assert decode_chunk_file(str(fp), columns=["lang"]) is not None
    with pytest.raises(ValueError, match="crc"):
        decode_chunk_file(str(fp), columns=["html"])


@pytest.mark.parametrize("columns", [None, ["lang"]],
                         ids=["full", "projected"])
def test_corrupt_footer_length_is_a_format_error(tmp_path, columns):
    """A bit-flipped footer length (intact tail magic) is a ValueError on
    both the full and the ranged read — never an I/O error from seeking
    to a negative offset."""
    import struct

    from dumpster.chunk import _TAIL_LEN, decode_chunk_file

    n = 500
    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"https://h{i % 7}.example.com/{i}" for i in range(n)]),
         pa.array([["pt", "en"][i % 2] for i in range(n)])],
        names=["url", "lang"])
    blob, _ = encode_chunk(batch)
    raw = bytearray(blob)
    (flen,) = struct.unpack_from("<I", raw, len(raw) - _TAIL_LEN)
    struct.pack_into("<I", raw, len(raw) - _TAIL_LEN, flen ^ (1 << 30))
    fp = tmp_path / "c.dmc"
    fp.write_bytes(bytes(raw))
    with pytest.raises(ValueError):
        decode_chunk_file(str(fp), columns)


def test_encoding_is_deterministic():
    n = 3000
    batch = pa.RecordBatch.from_arrays(
        [pa.array([f"u{i % 50}" for i in range(n)]),
         pa.array(np.arange(n), type=pa.int64())],
        names=["s", "i"])
    b1, s1 = encode_chunk(batch, table_id="x", bucket=3, chunk_seq=4)
    b2, s2 = encode_chunk(batch, table_id="x", bucket=3, chunk_seq=4)
    assert b1 == b2 and s1 == s2


def test_stats_report_codecs_and_sizes():
    n = 5000
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["pt"] * (n // 2) + ["en"] * (n // 2)),
         pa.array(np.arange(n) * 1000 + 7, type=pa.int64())],
        names=["lang", "ts"])
    blob, stats = encode_chunk(batch)
    by_col = {s["column"]: s for s in stats}
    assert by_col["lang"]["codec"] in ("rle", "dict")
    assert by_col["ts"]["codec"] in ("delta_for", "for")
    assert by_col["lang"]["encoded_bytes"] < by_col["lang"]["raw_bytes"]
    assert sum(s["encoded_bytes"] for s in stats) < len(blob) + 1024

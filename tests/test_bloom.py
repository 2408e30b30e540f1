"""Per-chunk bloom filters + string zone maps for var-width columns.

Semantics under test (the point-lookup gap — reference analog: Hive
partition pruning is the ONLY lookup acceleration, HiveClient.java:88-94,
so ``WHERE url = ...`` full-scans; at web scale that is the most common
query shape):

* bloom never false-negative: every inserted value tests positive; a
  negative proves absence so skipping the chunk is exact,
* the bloom section round-trips through the DMC2 container via ranged
  reads only (read_blooms never touches column data),
* string zone bounds (smin inclusive-truncated / smax exclusive) are
  conservative on both sides, including the 16-byte truncation and the
  all-0xFF unbounded case,
* the DataSource pushes string equality into (a) planning-time string-zone
  pruning and (b) the task-side bloom gate, while answers stay exact.
"""

import os

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from dumpster.bloom import (MAX_AVG_LEN, MIN_ROWS, bloom_build,
                            bloom_might_contain, bloom_rejects_file,
                            poly_hash_one, poly_hash_rows, want_bloom)
from dumpster.chunk import (_inc_bytes, _var_bounds, decode_chunk_file,
                            encode_chunk_pieces, read_blooms)
from dumpster.engine import _str_zone_overlaps, encode_table, \
    register_decoded_view


def _varbuf(values: list[bytes]):
    offs = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum([len(v) for v in values], out=offs[1:])
    return b"".join(values), offs


# -- hash kernel -------------------------------------------------------------

def test_poly_hash_rows_matches_scalar():
    rng = np.random.default_rng(7)
    vals = [bytes(rng.integers(0, 256, int(n), dtype=np.uint8))
            for n in rng.integers(0, 200, 300)]
    vals += [b"", b"\x00", b"\xff" * 64]
    data, offs = _varbuf(vals)
    got = poly_hash_rows(data, offs)
    assert [int(h) for h in got] == [poly_hash_one(v) for v in vals]


# -- bloom build / probe -----------------------------------------------------

def test_bloom_no_false_negatives_and_fp_sane():
    rng = np.random.default_rng(11)
    present = [f"https://host{i}.example/p/{rng.integers(1 << 30)}".encode()
               for i in range(4096)]
    data, offs = _varbuf(present)
    bitmap, desc = bloom_build(data, offs)
    assert all(bloom_might_contain(bitmap, desc, v) for v in present)
    absent = [f"https://other{i}.example/q/{i}".encode()
              for i in range(2000)]
    fp = sum(bloom_might_contain(bitmap, desc, v) for v in absent) / 2000
    assert fp < 0.10  # 8 bits/value, k=6 → ~2% design point


def test_bloom_unknown_version_never_prunes():
    data, offs = _varbuf([b"a", b"b"])
    bitmap, desc = bloom_build(data, offs)
    assert not bloom_might_contain(bitmap, desc, b"zz")
    assert bloom_might_contain(bitmap, {**desc, "v": 99}, b"zz")


def _bloom_per_row(data, offs):
    """The bitmap built by hashing every row (the pre-distinct build)."""
    from dumpster.bloom import _K, _positions, choose_m_bits
    hashes = np.unique(poly_hash_rows(data, offs))
    m_bits = choose_m_bits(len(hashes))
    bits = np.zeros(m_bits, dtype=bool)
    bits[_positions(hashes, m_bits).reshape(-1)] = True
    return np.packbits(bits, bitorder="little").tobytes(), \
        {"m": m_bits, "k": _K, "v": 2}


def test_bloom_from_distinct_values_equals_per_row_build():
    from dumpster.chunk import _var_parts_validity
    rng = np.random.default_rng(3)
    low = [[b"AIR", b"RAIL", b"SHIP", b"TRUCK"][i] for i in
           rng.integers(0, 4, 5000)]
    high = [f"https://h{i}.example/p/{rng.integers(1 << 40)}".encode()
            for i in range(3000)]
    empties = [b"", b"x", b"", b""] * 300
    cases = [_varbuf(v) for v in (low, high, empties, [b""] * 50, [])]
    # null-compacted offsets over a sliced array, as the encoder holds them
    arr = pa.array([None if i % 7 == 0 else low[i] for i in range(2000)],
                   type=pa.binary()).slice(13, 1500)
    data, offs, _ = _var_parts_validity(arr)
    cases.append((data, offs))
    for data, offs in cases:
        assert bloom_build(data, offs) == _bloom_per_row(data, offs)


def test_want_bloom_gating():
    assert want_bloom(MIN_ROWS, MIN_ROWS * MAX_AVG_LEN)
    assert not want_bloom(MIN_ROWS - 1, 10)            # too few rows
    assert not want_bloom(MIN_ROWS, MIN_ROWS * MAX_AVG_LEN + 1)  # too long


# -- string zone bounds ------------------------------------------------------

def test_inc_bytes():
    assert _inc_bytes(b"abc") == b"abd"
    assert _inc_bytes(b"a\xff\xff") == b"b"
    assert _inc_bytes(b"\xff\xff") is None


def test_var_bounds_conservative():
    vals = ["mango", "apple", "zebra" + "x" * 40]  # long max → truncation
    arr = pa.array(vals, type=pa.string())
    smin, smax = _var_bounds(arr, 3)
    import base64
    lo, hi = base64.b64decode(smin), base64.b64decode(smax)
    assert lo <= min(v.encode() for v in vals)
    assert all(v.encode() < hi for v in vals)
    # short max → exact max + 0x00 (still exclusive upper)
    smin2, smax2 = _var_bounds(pa.array(["b", "d"]), 2)
    assert base64.b64decode(smax2) == b"d\x00"
    # unbounded prefix: all-0xFF max has no byte upper bound
    _, smax3 = _var_bounds(pa.array([b"\xff" * 20], type=pa.binary()), 1)
    assert smax3 is None


def test_str_zone_overlaps():
    arr = pa.array(["ccc", "ppp"])
    import base64
    smin, smax = _var_bounds(arr, 2)
    s = {"smin": smin, "smax": smax}
    assert not _str_zone_overlaps(s, None, "a")        # hi < min
    assert not _str_zone_overlaps(s, "q", None)        # lo > max
    assert _str_zone_overlaps(s, "ccc", "ccc")         # == min
    assert _str_zone_overlaps(s, "ppp", "ppp")         # == max
    assert _str_zone_overlaps(s, "d", "e")             # inside
    assert _str_zone_overlaps({}, "a", "a")            # no zone → keep
    assert _str_zone_overlaps({"smin": smin, "smax": None}, "zzz", None)


# -- container round-trip ----------------------------------------------------

@pytest.fixture(scope="module")
def bloomed_chunk(tmp_path_factory):
    n = 2048
    rng = np.random.default_rng(3)
    urls = [f"https://site{i % 97}.example/page/{i}" for i in range(n)]
    batch = pa.record_batch({
        "doc_id": pa.array(range(n), type=pa.int64()),
        "url": pa.array(urls),
        # incompressible html → file ≫ the 64 KiB tail prefetch, so the
        # ranged-read assertion below is meaningful
        "html": pa.array([rng.integers(0, 256, 400, dtype=np.uint8)
                          .tobytes().decode("latin-1") for _ in range(n)]),
    })
    out = str(tmp_path_factory.mktemp("bloomed") / "c.dmc2")
    pieces, _stats = encode_chunk_pieces(batch, table_id="bl", bucket=0,
                                         chunk_seq=0)
    with open(out, "wb") as f:
        for p in pieces:
            f.write(p)
    return out, urls


def test_chunk_bloom_roundtrip(bloomed_chunk):
    path, urls = bloomed_chunk
    nbytes = []
    blooms = read_blooms(path, bytes_read=nbytes)
    assert "url" in blooms                    # short strings, ≥1024 rows
    assert "html" not in blooms               # avg len > MAX_AVG_LEN
    desc, bitmap = blooms["url"]
    assert bloom_might_contain(bitmap, desc, urls[5].encode())
    assert not bloom_might_contain(bitmap, desc, b"https://absent.example/")
    # ranged reads only: far less than the file
    assert nbytes[0] < os.path.getsize(path) / 2
    # data decode unaffected by the index sections
    batch = decode_chunk_file(path)
    assert batch.column("url").to_pylist() == urls
    assert set(batch.schema.names) == {"doc_id", "url", "html"}


def test_chunk_without_bloom_returns_empty(tmp_path):
    batch = pa.record_batch({"u": pa.array(["a", "b", "c"])})  # < MIN_ROWS
    path = str(tmp_path / "nb.dmc2")
    pieces, _stats = encode_chunk_pieces(batch, table_id="nb", bucket=0,
                                         chunk_seq=0)
    with open(path, "wb") as f:
        for p in pieces:
            f.write(p)
    assert read_blooms(path) == {}
    assert decode_chunk_file(path).column("u").to_pylist() == ["a", "b", "c"]


# -- end-to-end through the DataSource ---------------------------------------

@pytest.fixture(scope="module")
def encoded_urls(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_urls"))
    n = 8192
    df = (spark.range(n)
          .select(F.col("id").alias("doc_id"),
                  F.concat(F.lit("https://h"),
                           (F.col("id") % 13).cast("string"),
                           F.lit(".example/p/"),
                           F.col("id").cast("string")).alias("url"),
                  (F.col("id") % 5).cast("string").alias("lang")))
    encode_table(df.orderBy("url"), out,
                 bucket_expr=(F.col("doc_id") % 4).cast("int"), n_buckets=4,
                 chunk_rows=1024, order_cols=("url",), table_id="urls")
    return out, n


def test_pushdown_string_equality_exact_and_bloom_gated(spark, encoded_urls):
    out, n = encoded_urls
    register_decoded_view(spark, out, "urls_push", pushdown=True)
    hit = spark.sql("SELECT doc_id FROM urls_push "
                    "WHERE url = 'https://h3.example/p/42'").collect()
    assert [r["doc_id"] for r in hit] == [42]
    miss = spark.sql("SELECT doc_id FROM urls_push "
                     "WHERE url = 'https://h3.example/p/nope'").collect()
    assert miss == []
    got = spark.sql("SELECT count(*) AS c FROM urls_push "
                    "WHERE url IN ('https://h1.example/p/1',"
                    " 'https://h2.example/p/2')").collect()[0]["c"]
    assert got == 2


def test_datasource_bloom_rejects_absent_value(encoded_urls):
    from pyspark.sql.datasource import EqualTo
    from dumpster.datasource import DumpsterReader
    from dumpster.engine import table_schema
    out, _ = encoded_urls
    rd = DumpsterReader({"path": out}, table_schema(out))
    # absent value INSIDE the table's url range: string zones keep the
    # overlapping chunks, only the bloom can prove it absent
    absent = "https://h3.example/p/zz"
    list(rd.pushFilters([EqualTo(("url",), absent)]))
    assert rd.eq_sets == [("url", frozenset({absent.encode()}))]
    files = [f for p in rd.partitions() for f in p.files]
    assert files  # string zones alone can't prune an in-range absent url...
    rejected = sum(bloom_rejects_file(f, rd.eq_sets) for f in files)
    # ...but the blooms prove absence for (almost) every chunk — allow the
    # designed ~2%/chunk false-positive rate, which only costs a decode,
    # never correctness (Spark re-applies the row predicate)
    assert rejected >= len(files) - 2 > 0
    # a present value is never rejected by the chunk that holds it
    rd2 = DumpsterReader({"path": out}, table_schema(out))
    list(rd2.pushFilters([EqualTo(("url",), "https://h3.example/p/42")]))
    survivors = [f for p in rd2.partitions() for f in p.files]
    assert any(not bloom_rejects_file(f, rd2.eq_sets) for f in survivors)


def test_planning_prunes_on_string_range(spark, encoded_urls):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual
    from dumpster.datasource import DumpsterReader
    from dumpster.engine import table_schema
    out, n = encoded_urls
    schema = table_schema(out)
    all_files = [f for p in DumpsterReader({"path": out}, schema)
                 .partitions() for f in p.files]
    rd = DumpsterReader({"path": out}, schema)
    list(rd.pushFilters([GreaterThanOrEqual(("url",), "https://h4"),
                         LessThanOrEqual(("url",), "https://h5")]))
    kept = [f for p in rd.partitions() for f in p.files]
    assert 0 < len(kept) < len(all_files)  # url-ordered chunks → zones prune
    # and the answer through SQL is exact
    register_decoded_view(spark, out, "urls_push_rng", pushdown=True)
    got = spark.sql("SELECT count(*) AS c FROM urls_push_rng "
                    "WHERE url >= 'https://h4' AND url <= 'https://h5'"
                    ).collect()[0]["c"]
    want = sum(1 for i in range(n)
               if "https://h4" <= f"https://h{i % 13}.example/p/{i}"
               <= "https://h5")
    assert got == want


def test_decode_tables_eq_gate_matches_full(spark, encoded_urls):
    from dumpster.engine import decode_table
    out, _ = encoded_urls
    got = (decode_table(spark, out,
                        zone_filter=("url", "https://h7.example/p/7",
                                     "https://h7.example/p/7"))
           .filter(F.col("url") == "https://h7.example/p/7").collect())
    assert [r["doc_id"] for r in got] == [7]
    none = (decode_table(spark, out,
                         zone_filter=("url", "https://no.example/",
                                      "https://no.example/"))
            .filter(F.col("url") == "https://no.example/").count())
    assert none == 0

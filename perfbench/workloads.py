"""The benchmark's two workloads: the inputs they generate from the seed,
the operations their closed loop runs, and the oracle answers those
operations are checked against.

``pages``   — the F1 web-page table (``dumpster.synth``): url, warc_ts,
              html, text, lang.  html/text bytes dominate, as in crawls.
``tabular`` — a lineitem-shaped table made here: sorted keys, small-range
              ints, doubles, timestamps and low-cardinality strings, the
              columns on which the fixed-width codecs (forpack, bss, rle,
              dictionary) win.

Each workload has one encode front door, one full-read path and a seeded
mix of selective queries.  Every query answer is compared with an oracle
computed by pyarrow from the source parquet, which never goes through
dumpster.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual, LessThan,
                                    LessThanOrEqual)

# Snappy + dictionary, 256 MiB row groups, 64 KiB pages: the reference
# sink's writer settings (RecordWriter.java:29-32)
REF_PARQUET_OPTIONS = {
    "compression": "snappy",
    "parquet.enable.dictionary": "true",
    "parquet.block.size": str(256 * 1024 * 1024),
    "parquet.page.size": str(64 * 1024),
}

_HASH_MOD = 2_147_483_647


def utc(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) \
        + dt.timedelta(microseconds=int(us))


def epoch_us(col: pa.ChunkedArray) -> np.ndarray:
    # Spark writes timestamps as INT96, which pyarrow reads as ns
    return col.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()


def logical_bytes(tbl: pa.Table) -> int:
    """Uncompressed value bytes of a table: var-width values by their
    length, fixed-width values by their width, nulls count 0."""
    total = 0
    for col in tbl.columns:
        t = col.type
        if pa.types.is_string(t) or pa.types.is_binary(t):
            lens = pc.binary_length(col)
            total += int(pc.sum(lens).as_py() or 0)
        else:
            total += (len(col) - col.null_count) * (t.bit_width // 8)
    return total


def digest_row(df: DataFrame) -> dict:
    """Order-independent digest of every column, plus whole-row hashes,
    in one aggregate: a per-column count and sum of 31-bit hashes, and
    the same over the row.  Equal digests mean equal multisets of rows
    up to hash collisions."""
    aggs = [F.count(F.lit(1)).alias("rows"),
            F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(_HASH_MOD)))
            .alias("row_hash")]
    for c in df.columns:
        aggs.append(F.count(c).alias(f"n:{c}"))
        aggs.append(F.sum(F.pmod(F.xxhash64(c), F.lit(_HASH_MOD)))
                    .alias(f"h:{c}"))
    return df.agg(*aggs).collect()[0].asDict()


def write_reference(df: DataFrame, path: str) -> None:
    w = df.write.mode("overwrite")
    for k, v in REF_PARQUET_OPTIONS.items():
        w = w.option(k, v)
    w.parquet(path)


def tree_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(root, f))
    return total


def chunk_files(store: str) -> list[str]:
    out = []
    for root, _, files in os.walk(os.path.join(store, "chunks")):
        out.extend(os.path.join(root, f) for f in files
                   if f.endswith(".dmc"))
    return sorted(out)


class Query:
    """One selective query.  ``frame(spark, store)`` builds the DataFrame
    over a dumpster store, ``answer(df)`` runs the query on it; the same
    ``answer`` over the reference Parquet is the same-window comparator.
    ``expected`` is the pyarrow oracle's answer, ``layer`` the dumpster
    module whose front door ``frame`` uses, and ``filters`` the
    DataSource filters Spark pushes for it (None when it does not go
    through the DataSource)."""

    def __init__(self, kind: str, layer: str, frame, answer, expected,
                 filters: list | None):
        self.kind = kind
        self.layer = layer
        self.frame = frame
        self.answer = answer
        self.expected = expected
        self.filters = filters

    def run(self, spark: SparkSession, store: str):
        return self.answer(self.frame(spark, store))


def _dumpster(spark: SparkSession, store: str, columns: str | None = None,
              io_trace: str | None = None) -> DataFrame:
    r = spark.read.format("dumpster").option("path", store)
    if columns:
        r = r.option("columns", columns)
    if io_trace:
        r = r.option("io_trace", io_trace)
    return r.load()


def _counts(rows) -> dict:
    return {r[0]: int(r[1]) for r in rows}


def _pa_counts(col: pa.ChunkedArray) -> dict:
    vc = pc.value_counts(col)
    return {v["values"].as_py(): int(v["counts"].as_py()) for v in vc}


class Pages:
    name = "pages"
    default_rows = 6_000
    url_col = "url"
    # the column a pruned read asks for, and the column whose bloom the
    # traced replay builds and probes
    narrow_col = "lang"
    bloom_col = "url"
    absent_value = b"https://absent.example.org/none"
    encode_span = "engine.encode_table"
    read_span = "engine.decode"
    read_plan_span = "engine.decode_table"

    def generate(self, spark: SparkSession, rows: int, seed: int,
                 path: str) -> str:
        from dumpster.synth import materialize_pages
        return materialize_pages(spark, rows, path, seed=seed)

    def encode(self, spark: SparkSession, df: DataFrame, out: str) -> None:
        from dumpster.engine import encode_table
        encode_table(df, out, url_col="url")

    def full_read(self, spark: SparkSession, store: str) -> DataFrame:
        from dumpster.engine import decode_table
        return decode_table(spark, store)

    def queries(self, io_trace: str | None, tbl: pa.Table,
                seed: int) -> list:
        """The seeded query mix of one cycle: a lang-only aggregate through
        ``decode_table(columns=...)`` (column pruning, ranged reads), and
        through the DataSource a warc_ts window over about 1% of the rows
        (zone maps) and url lookups for a present and an absent url
        (string zone maps; bloom filters where chunks reach
        ``bloom.MIN_ROWS`` rows)."""
        from dumpster.engine import decode_table
        rng = np.random.default_rng(seed)
        n = tbl.num_rows
        lang_counts = _pa_counts(tbl.column("lang"))

        def lang_agg(df):
            return _counts(df.groupBy("lang").count().collect())

        ts = epoch_us(tbl.column("warc_ts"))
        order = np.sort(ts)
        width = max(n // 100, 1)
        i0 = int(rng.integers(0, max(n - width, 1)))
        lo_us, hi_us = int(order[i0]), int(order[min(i0 + width, n - 1)])
        in_win = (ts >= lo_us) & (ts < hi_us)
        text_len = pc.binary_length(tbl.column("text")).to_numpy(
            zero_copy_only=False)
        lo, hi = utc(lo_us), utc(hi_us)

        def text_bytes_where(cond):
            def answer(df):
                r = (df.filter(cond())
                     .agg(F.count(F.lit(1)),
                          F.coalesce(F.sum(F.octet_length("text")),
                                     F.lit(0)))
                     .collect()[0])
                return (int(r[0]), int(r[1]))
            return answer

        urls = tbl.column("url")
        hit = urls[int(rng.integers(0, n))].as_py()
        hit_mask = pc.equal(urls, hit).to_numpy(zero_copy_only=False)
        miss = f"https://absent-{int(rng.integers(1 << 30))}.example.org/x"

        def full(spark, store):
            return _dumpster(spark, store, io_trace=io_trace)

        return [
            Query("lang_agg", "engine",
                  lambda spark, store: decode_table(spark, store,
                                                    columns=["lang"]),
                  lang_agg, lang_counts, None),
            Query("warc_ts_window", "datasource", full,
                  text_bytes_where(lambda: (F.col("warc_ts") >= F.lit(lo))
                                   & (F.col("warc_ts") < F.lit(hi))),
                  (int(in_win.sum()), int(text_len[in_win].sum())),
                  [GreaterThanOrEqual(("warc_ts",), lo),
                   LessThan(("warc_ts",), hi)]),
            Query("url_present", "datasource", full,
                  text_bytes_where(lambda: F.col("url") == F.lit(hit)),
                  (int(hit_mask.sum()), int(text_len[hit_mask].sum())),
                  [EqualTo(("url",), hit)]),
            Query("url_absent", "datasource", full,
                  text_bytes_where(lambda: F.col("url") == F.lit(miss)),
                  (0, 0), [EqualTo(("url",), miss)])]


_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
_INSTRUCT = ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"]
_FLAGS = ["A", "N", "R"]
_STATUS = ["F", "O"]
TABULAR_DDL = ("l_orderkey long, l_partkey long, l_suppkey int, "
               "l_linenumber int, l_quantity int, l_extendedprice double, "
               "l_discount double, l_tax double, l_returnflag string, "
               "l_linestatus string, l_shipdate timestamp, "
               "l_shipmode string, l_shipinstruct string")
_BASE_US = 694_224_000_000_000       # 1992-01-01T00:00:00Z
_DAY_US = 86_400_000_000


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) \
            + np.uint64((salt * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _pick(values: list, idx: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.string()).take(pa.array(idx))


def tabular_batch(idx: np.ndarray, n_rows: int, seed: int) -> pa.RecordBatch:
    """Rows of the lineitem-shaped table, a pure function of
    (row, table size, seed).
    Four lines per order; order keys ascend with the row index, and
    ship dates follow the order date, so both are sorted-ish."""
    u = idx.astype(np.uint64)

    def draw(salt, k):
        return (_mix(u, seed * 131 + salt) % np.uint64(k)).astype(np.int64)

    order = idx // 4
    qty = draw(1, 50) + 1
    price_cents = 90_000 + draw(2, 10_000_000)
    ext = np.round(qty * price_cents / 100.0, 2)
    order_day = order * 2_400 // max(n_rows // 4, 1)
    ship_us = (_BASE_US + (order_day + draw(3, 121) + 1) * _DAY_US
               + draw(4, 86_400) * 1_000_000)
    status = np.where(order_day + 60 < 2_100, 0, 1)
    flag = np.where(status == 1, 1, np.where(draw(5, 2) == 0, 0, 2))
    return pa.RecordBatch.from_arrays(
        [pa.array(order * 32 + draw(6, 8), type=pa.int64()),
         pa.array(draw(7, 200_000) + 1, type=pa.int64()),
         pa.array(draw(8, 10_000) + 1, type=pa.int32()),
         pa.array(idx % 4 + 1, type=pa.int32()),
         pa.array(qty, type=pa.int32()),
         pa.array(ext, type=pa.float64()),
         pa.array(draw(9, 11) / 100.0, type=pa.float64()),
         pa.array(draw(10, 9) / 100.0, type=pa.float64()),
         _pick(_FLAGS, flag), _pick(_STATUS, status),
         pa.array(ship_us.astype("datetime64[us]"), type=pa.timestamp("us")),
         _pick(_MODES, draw(11, 7)), _pick(_INSTRUCT, draw(12, 4))],
        names=[f.split()[0] for f in TABULAR_DDL.split(", ")])


class Tabular:
    name = "tabular"
    default_rows = 100_000
    # no url here: the salted-prep floor buckets on this string column
    url_col = "l_shipmode"
    narrow_col = "l_shipmode"
    bloom_col = "l_shipmode"
    absent_value = b"TELEPORT"
    encode_span = "datasource.write"
    read_span = "datasource.read"
    read_plan_span = "datasource.load"

    def generate(self, spark: SparkSession, rows: int, seed: int,
                 path: str) -> str:
        full = os.path.join(path, f"tabular_n{rows}_s{seed}.parquet")
        parts = max(spark.sparkContext.defaultParallelism, 4)

        def gen(batches):
            for b in batches:
                idx = b.column(0).to_numpy()
                if len(idx):
                    yield tabular_batch(idx.astype(np.int64), rows, seed)

        (spark.range(rows, numPartitions=parts)
         .mapInArrow(gen, TABULAR_DDL)
         .write.mode("overwrite").option("compression", "none")
         .parquet(full))
        return full

    def encode(self, spark: SparkSession, df: DataFrame, out: str) -> None:
        df.write.format("dumpster").mode("append").save(out)

    def full_read(self, spark: SparkSession, store: str) -> DataFrame:
        return _dumpster(spark, store)

    def queries(self, io_trace: str | None, tbl: pa.Table,
                seed: int) -> list:
        """An l_shipmode-only aggregate (column pruning), an l_orderkey
        range over about 1% of the rows (zone maps), and a lookup of a
        ship mode no row has (bloom filters)."""
        rng = np.random.default_rng(seed)
        n = tbl.num_rows
        keys = tbl.column("l_orderkey").to_numpy()
        qty = tbl.column("l_quantity").to_numpy().astype(np.int64)
        order = np.sort(keys)
        width = max(n // 100, 1)
        i0 = int(rng.integers(0, max(n - width, 1)))
        klo, khi = int(order[i0]), int(order[min(i0 + width, n - 1)])
        kmask = (keys >= klo) & (keys <= khi)

        def mode_agg(df):
            return _counts(df.groupBy("l_shipmode").count().collect())

        def qty_where(cond):
            def answer(df):
                r = (df.filter(cond())
                     .agg(F.count(F.lit(1)),
                          F.coalesce(F.sum("l_quantity"), F.lit(0)))
                     .collect()[0])
                return (int(r[0]), int(r[1]))
            return answer

        def full(spark, store):
            return _dumpster(spark, store, io_trace=io_trace)

        return [
            Query("shipmode_agg", "datasource",
                  lambda spark, store: _dumpster(spark, store, "l_shipmode",
                                                 io_trace),
                  mode_agg, _pa_counts(tbl.column("l_shipmode")), []),
            Query("orderkey_range", "datasource", full,
                  qty_where(lambda: F.col("l_orderkey").between(klo, khi)),
                  (int(kmask.sum()), int(qty[kmask].sum())),
                  [GreaterThanOrEqual(("l_orderkey",), klo),
                   LessThanOrEqual(("l_orderkey",), khi)]),
            Query("shipmode_absent", "datasource", full,
                  qty_where(lambda: F.col("l_shipmode") == F.lit("TELEPORT")),
                  (0, 0), [EqualTo(("l_shipmode",), "TELEPORT")])]


WORKLOADS = {"pages": Pages(), "tabular": Tabular()}


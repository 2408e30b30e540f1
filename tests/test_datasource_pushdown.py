"""Automatic predicate pushdown via the dumpster Python DataSource.

Semantics under test (VERDICT r2 missing #4):
* a plain SQL WHERE on a pushdown-registered view returns EXACTLY what
  decoding everything and filtering would (chunk pruning is conservative;
  Spark re-applies the row predicate),
* planning-time pruning actually engages: with a range predicate the
  reader plans strictly fewer chunk-file partitions than unfiltered, and
  the planned files match engine._plan_chunks over the zone_filter
  translation of the same predicate (the zone_filter baseline),
* schema evolution (older chunks missing a column) and projection
  registration both survive the DataSource path.
"""

import datetime

import pyspark.sql.functions as F
import pytest

from pyspark.sql.datasource import EqualTo, GreaterThan, \
    GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, \
    StringStartsWith
from dumpster.chunk import _inc_bytes
from dumpster.datasource import DumpsterReader
from dumpster.engine import encode_table, register_decoded_view

_TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _minute(n: int) -> datetime.datetime:
    return _TS0 + datetime.timedelta(minutes=n)


def _us(dt: datetime.datetime) -> int:
    return int(dt.timestamp()) * 1_000_000


def _docs(spark):
    """sf0.01 documents plus three derived columns for the zone-rule
    cases: ``ts`` (one minute per doc_id), ``name`` (a doc_id-ordered
    string) and ``opt`` (NULL for doc_id < 128)."""
    return (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .withColumn("ts", F.timestamp_micros(
                F.lit(_us(_TS0)) + F.col("doc_id") * 60_000_000))
            .withColumn("name", F.format_string("d%05d", F.col("doc_id")))
            .withColumn("opt", F.when(F.col("doc_id") >= 128,
                                      F.col("n_chars"))))


@pytest.fixture(scope="module")
def encoded_docs(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("enc_push"))
    df = _docs(spark).orderBy("doc_id")
    # order by doc_id + small chunks → tight, disjoint doc_id zones
    # (sf0.01 documents is 500 rows → 4 buckets × ~4 chunks of ≤32 rows)
    encode_table(df, out, bucket_expr=(F.col("doc_id") % 4).cast("int"),
                 n_buckets=4, chunk_rows=32, order_cols=("doc_id",))
    return out


def _flat_files(parts):
    return sorted(f for p in parts for f in p.files)


def test_where_equals_full_decode(spark, encoded_docs):
    register_decoded_view(spark, encoded_docs, "docs_push", pushdown=True)
    got = spark.sql(
        "SELECT doc_id, lang, n_chars FROM docs_push "
        "WHERE doc_id BETWEEN 100 AND 220 ORDER BY doc_id").collect()
    want = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .filter(F.col("doc_id").between(100, 220))
            .select("doc_id", "lang", "n_chars").orderBy("doc_id").collect())
    assert got == want


# case → (pushed filters, the equivalent zone_filter or None when it has
# none, the exact row predicate as SQL)
_PARITY_CASES = {
    "numeric_range": (
        [GreaterThanOrEqual(("doc_id",), 100),
         LessThanOrEqual(("doc_id",), 220)],
        [("doc_id", 100, 220)], "doc_id BETWEEN 100 AND 220"),
    "timestamp_window": (
        [GreaterThanOrEqual(("ts",), _minute(300)),
         LessThan(("ts",), _minute(360))],
        [("ts", _minute(300), _minute(360))],
        f"ts >= timestamp_micros({_us(_minute(300))}) "
        f"AND ts < timestamp_micros({_us(_minute(360))})"),
    "open_bounded": (
        [GreaterThan(("doc_id",), 400)], [("doc_id", 400, None)],
        "doc_id > 400"),
    "string_equality": (
        [EqualTo(("name",), "d00042")], [("name", "d00042", "d00042")],
        "name = 'd00042'"),
    "string_prefix": (
        [StringStartsWith(("name",), "d001")],
        [("name", "d001", _inc_bytes(b"d001"))], "name LIKE 'd001%'"),
    "is_null": ([IsNull(("opt",))], None, "opt IS NULL"),
    "is_not_null": ([IsNotNull(("opt",))], None, "opt IS NOT NULL"),
}


@pytest.mark.parametrize("case", list(_PARITY_CASES))
def test_planning_prunes_partitions(spark, encoded_docs, case):
    """One zone-map rule behind every front door: the DataSource plan,
    _plan_chunks over the zone_filter translation and
    decode_table(zone_filter=...) + the exact row filter agree for each
    pushable predicate shape."""
    import os
    import json
    import pyarrow.dataset as ds
    from dumpster.engine import _plan_chunks, _zone_filters, decode_table, \
        table_schema

    filters, zone, pred = _PARITY_CASES[case]
    schema = table_schema(encoded_docs)
    rd_all = DumpsterReader({"path": encoded_docs}, schema)
    all_files = _flat_files(rd_all.partitions())
    assert len(all_files) > 8  # enough chunks for pruning to matter

    rd = DumpsterReader({"path": encoded_docs}, schema)
    kept = list(rd.pushFilters(filters))
    assert len(kept) == len(filters)  # every filter returned → Spark re-applies
    pruned_files = _flat_files(rd.partitions())
    assert 0 < len(pruned_files) < len(all_files)

    # parity with the explicit zone_filter machinery on the same manifest
    mdir = os.path.join(encoded_docs, "manifest")
    tbl = ds.dataset([os.path.join(mdir, f) for f in sorted(os.listdir(mdir))
                      if f.endswith(".parquet")]).to_table(
        columns=["file", "col_stats", "n_rows"])
    rows = tbl.to_pylist()
    if zone is not None:
        want = [f for f, _ in _plan_chunks([encoded_docs],
                                           _zone_filters(zone))]
    else:
        # no zone_filter spelling for null predicates: the oracle is the
        # manifest's per-chunk null count
        want_null = isinstance(filters[0], IsNull)
        nulls = {r["file"]: ({s["column"]: s for s in
                              json.loads(r["col_stats"])}["opt"]["n_nulls"],
                             r["n_rows"]) for r in rows}
        want = sorted(f for f, (nn, n) in nulls.items()
                      if (nn > 0 if want_null else nn < n))
        assert set(want) <= {f for f, _ in _plan_chunks([encoded_docs])}
    assert pruned_files == want

    got = sorted(r["doc_id"] for r in decode_table(
        spark, encoded_docs, zone_filter=zone).filter(pred)
        .select("doc_id").collect())
    truth = sorted(r["doc_id"] for r in _docs(spark).filter(pred)
                   .select("doc_id").collect())
    assert got == truth and truth


def test_equality_and_in_filters_prune(encoded_docs):
    from dumpster.engine import table_schema
    schema = table_schema(encoded_docs)
    rd = DumpsterReader({"path": encoded_docs}, schema)
    list(rd.pushFilters([EqualTo(("doc_id",), 42)]))
    eq_files = _flat_files(rd.partitions())
    rd2 = DumpsterReader({"path": encoded_docs}, schema)
    list(rd2.pushFilters([In(("doc_id",), (42, 43, 44))]))
    in_files = _flat_files(rd2.partitions())
    rd3 = DumpsterReader({"path": encoded_docs}, schema)
    all_files = _flat_files(rd3.partitions())
    assert len(eq_files) < len(all_files)
    assert set(eq_files) <= set(in_files)


def test_string_filter_stays_exact(spark, encoded_docs):
    # string predicates may prune via smin/smax zones and blooms
    # (tests/test_bloom.py); whatever survives must answer exactly
    register_decoded_view(spark, encoded_docs, "docs_push2", pushdown=True)
    got = spark.sql("SELECT count(*) AS n FROM docs_push2 "
                    "WHERE lang = 'en'").collect()[0]["n"]
    want = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .filter("lang = 'en'").count())
    assert got == want


def test_projection_registration(spark, encoded_docs):
    register_decoded_view(spark, encoded_docs, "docs_narrow",
                          columns=["doc_id", "lang"], pushdown=True)
    df = spark.sql("SELECT * FROM docs_narrow WHERE doc_id < 50")
    assert df.columns == ["doc_id", "lang"]
    assert df.count() == 50


def test_pushdown_with_schema_evolution(spark, tmp_path):
    out = str(tmp_path / "evo")
    base = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), F.lit("aa").alias("lang"))
    encode_table(base, out, bucket_expr=(F.col("doc_id") % 4).cast("int"),
                 n_buckets=4, chunk_rows=128, order_cols=("doc_id",))
    wide = spark.range(500, 1000).select(
        F.col("id").alias("doc_id"), F.lit("bb").alias("lang"),
        (F.col("id") * 2).alias("extra"))
    # disjoint bucket ids: chunk names are keyed (bucket, seq)
    encode_table(wide, out, bucket_expr=(F.col("doc_id") % 4 + 4).cast("int"),
                 n_buckets=8, chunk_rows=128, order_cols=("doc_id",),
                 resume=False)
    register_decoded_view(spark, out, "evo_push", pushdown=True)
    rows = spark.sql("SELECT doc_id, lang, extra FROM evo_push "
                     "WHERE doc_id IN (10, 600) ORDER BY doc_id").collect()
    assert [(r["doc_id"], r["lang"], r["extra"]) for r in rows] == \
        [(10, "aa", None), (600, "bb", 1200)]


def test_like_prefix_pushdown_prunes_and_stays_exact(spark, tmp_path_factory):
    from pyspark.sql.datasource import StringStartsWith
    from dumpster.engine import table_schema
    out = str(tmp_path_factory.mktemp("enc_prefix"))
    n = 2000
    df = (spark.range(n)
          .select(F.col("id").alias("doc_id"),
                  F.concat(F.lit("https://h"),
                           (F.col("id") % 9).cast("string"),
                           F.lit(".example/p/"),
                           F.col("id").cast("string")).alias("url")))
    encode_table(df.orderBy("url"), out,
                 bucket_expr=(F.col("doc_id") % 4).cast("int"), n_buckets=4,
                 chunk_rows=128, order_cols=("url",))
    schema = table_schema(out)
    all_files = _flat_files(DumpsterReader({"path": out}, schema)
                            .partitions())
    rd = DumpsterReader({"path": out}, schema)
    list(rd.pushFilters([StringStartsWith(("url",), "https://h4")]))
    kept = _flat_files(rd.partitions())
    assert 0 < len(kept) < len(all_files)  # prefix zones prune
    register_decoded_view(spark, out, "pfx_push", pushdown=True)
    got = spark.sql("SELECT count(*) AS c FROM pfx_push "
                    "WHERE url LIKE 'https://h4%'").collect()[0]["c"]
    want = sum(1 for i in range(n)
               if f"https://h{i % 9}.example/p/{i}".startswith("https://h4"))
    assert got == want


def test_null_predicates_prune_and_stay_exact(spark, tmp_path_factory):
    from pyspark.sql.datasource import IsNotNull, IsNull
    from dumpster.engine import table_schema
    out = str(tmp_path_factory.mktemp("enc_nulls"))
    # bucket 0: extra always null; bucket 1: extra never null
    df = (spark.range(1000)
          .select(F.col("id").alias("doc_id"),
                  F.when(F.col("id") % 2 == 0, None)
                  .otherwise(F.col("id") * 3).alias("extra"),
                  (F.col("id") % 2).cast("int").alias("b")))
    encode_table(df, out, bucket_expr=F.col("b"), n_buckets=2,
                 chunk_rows=64, order_cols=("doc_id",))
    schema = table_schema(out)
    all_files = _flat_files(DumpsterReader({"path": out}, schema)
                            .partitions())
    rd_nn = DumpsterReader({"path": out}, schema)
    list(rd_nn.pushFilters([IsNotNull(("extra",))]))
    kept_nn = _flat_files(rd_nn.partitions())
    assert 0 < len(kept_nn) < len(all_files)   # all-null chunks pruned
    rd_n = DumpsterReader({"path": out}, schema)
    list(rd_n.pushFilters([IsNull(("extra",))]))
    kept_n = _flat_files(rd_n.partitions())
    assert 0 < len(kept_n) < len(all_files)    # no-null chunks pruned
    assert set(kept_nn) | set(kept_n) == set(all_files)
    register_decoded_view(spark, out, "nulls_push", pushdown=True)
    a = spark.sql("SELECT count(*) AS c FROM nulls_push "
                  "WHERE extra IS NULL").collect()[0]["c"]
    b = spark.sql("SELECT count(*) AS c FROM nulls_push "
                  "WHERE extra IS NOT NULL").collect()[0]["c"]
    assert (a, b) == (500, 500)
    # null-safe equality: <=> NULL behaves as IS NULL, <=> v as equality
    c = spark.sql("SELECT count(*) AS c FROM nulls_push "
                  "WHERE extra <=> NULL").collect()[0]["c"]
    d = spark.sql("SELECT doc_id FROM nulls_push "
                  "WHERE extra <=> 9").collect()
    assert c == 500 and [r["doc_id"] for r in d] == [3]


def test_randomized_where_equivalence(spark, tmp_path_factory):
    """Catch-all: 24 deterministic pseudo-random WHERE clauses over every
    pushable shape (range, equality, IN, LIKE-prefix, IS [NOT] NULL,
    null-safe equality, conjunctions) answer identically through the
    pushdown view and the raw DataFrame.  Pruning may engage or not —
    exactness must hold either way."""
    import random
    out = str(tmp_path_factory.mktemp("enc_rand"))
    n = 3000
    df = (spark.range(n)
          .select(F.col("id").alias("doc_id"),
                  F.concat(F.lit("https://h"),
                           (F.col("id") % 11).cast("string"),
                           F.lit(".example/p/"),
                           F.col("id").cast("string")).alias("url"),
                  (F.col("id") % 7).cast("string").alias("lang"),
                  F.when(F.col("id") % 3 == 0, None)
                  .otherwise(F.col("id") * 2).alias("score")))
    encode_table(df.orderBy("doc_id"), out,
                 bucket_expr=(F.col("doc_id") % 4).cast("int"), n_buckets=4,
                 chunk_rows=256, order_cols=("doc_id",))
    register_decoded_view(spark, out, "rand_push", pushdown=True)
    df.createOrReplaceTempView("rand_raw")
    rng = random.Random(7)
    clauses = []
    for _ in range(8):
        a, b = sorted(rng.sample(range(n), 2))
        clauses.append(f"doc_id BETWEEN {a} AND {b}")
    for _ in range(4):
        i = rng.randrange(n)
        clauses.append(f"url = 'https://h{i % 11}.example/p/{i}'")
    for _ in range(3):
        vs = ", ".join(f"'https://h{i % 11}.example/p/{i}'"
                       for i in rng.sample(range(n), 3))
        clauses.append(f"url IN ({vs})")
    for _ in range(3):
        clauses.append(f"url LIKE 'https://h{rng.randrange(11)}%'")
    clauses += ["score IS NULL", "score IS NOT NULL", "score <=> NULL",
                f"score <=> {rng.randrange(n) * 2}",
                "doc_id > 2500 AND lang = '3' AND score IS NOT NULL",
                "url LIKE 'https://h5%' AND doc_id < 700"]
    for c in clauses:
        got = spark.sql(f"SELECT sum(doc_id) AS s, count(*) AS c "
                        f"FROM rand_push WHERE {c}").collect()[0]
        want = spark.sql(f"SELECT sum(doc_id) AS s, count(*) AS c "
                         f"FROM rand_raw WHERE {c}").collect()[0]
        assert (got["s"], got["c"]) == (want["s"], want["c"]), c


def test_stale_scan_cache_workaround(spark, encoded_docs):
    """Spark 4.1 overwrites the per-relation planned read on every
    filtered planning (PythonDataSourceV2.setReadInfo); an unfiltered
    query on the same view then reused the stale pruned partitions and
    lost rows.  The never-null sentinel in register_decoded_view forces
    a re-plan on every query — the poisoned sequence must now be exact."""
    register_decoded_view(spark, encoded_docs, "docs_stale", pushdown=True)
    total = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet").count()
    assert spark.sql("SELECT count(*) c FROM docs_stale").collect()[0]["c"] \
        == total
    spark.sql("SELECT count(*) c FROM docs_stale "
              "WHERE doc_id BETWEEN 100 AND 150").collect()
    # the killer sequence: full scan AFTER a filtered planning
    assert spark.sql("SELECT count(*) c FROM docs_stale").collect()[0]["c"] \
        == total
    spark.sql("SELECT count(*) c FROM docs_stale WHERE doc_id < 40").collect()
    assert spark.sql("SELECT * FROM docs_stale").count() == total


def test_sentinel_fallback_all_nullable(spark, tmp_path):
    """A store where EVERY column carries nulls in every chunk cannot host
    the sentinel; registration must fall back to the exact decode view
    (no pruning) with a warning rather than risk wrong answers."""
    import warnings as w
    out = str(tmp_path / "allnull")
    df = spark.range(0, 200).select(
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id"))
        .alias("doc_id"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise((F.col("id") % 3).cast("string")).alias("lang"))
    encode_table(df, out, bucket_expr=F.lit(0), n_buckets=1, chunk_rows=64)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        register_decoded_view(spark, out, "allnull_v", pushdown=True)
    assert any("never-null" in str(c.message) for c in caught)
    got = spark.sql("SELECT count(*) c FROM allnull_v").collect()[0]["c"]
    assert got == 200
    spark.sql("SELECT count(*) c FROM allnull_v WHERE doc_id > 50").collect()
    assert spark.sql("SELECT count(*) c FROM allnull_v").collect()[0]["c"] \
        == 200


def test_sentinel_reverified_per_planning_after_null_append(spark, tmp_path):
    """ADVICE r3: an append that introduces NULLs into the sentinel
    column must turn the view's queries into a LOUD error (re-register
    instruction), never silent row loss from the IS NOT NULL no-op."""
    from dumpster.datasource import register_dumpster_source

    out = str(tmp_path / "sent")
    df = (spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
          .limit(100))
    encode_table(df, out, bucket_expr=(F.col("doc_id") % 2).cast("int"),
                 n_buckets=2)
    register_decoded_view(spark, out, "sent_push", pushdown=True)
    n0 = spark.sql("SELECT count(*) AS n FROM sent_push").collect()[0]["n"]
    assert n0 == 100
    # append rows with NULL in every formerly-never-null column
    register_dumpster_source(spark)
    nulled = df.limit(5)
    for c in nulled.columns:
        if c != "doc_id":
            nulled = nulled.withColumn(
                c, F.lit(None).cast(dict(df.dtypes)[c]))
    nulled = nulled.withColumn("doc_id", F.lit(None).cast("long"))
    nulled.write.format("dumpster").mode("append").save(out)
    with pytest.raises(Exception, match="sentinel|never-null"):
        spark.sql("SELECT count(*) AS n FROM sent_push").collect()
    # re-registration recovers (falls back to exact decode view)
    register_decoded_view(spark, out, "sent_push", pushdown=True)
    n1 = spark.sql("SELECT count(*) AS n FROM sent_push").collect()[0]["n"]
    assert n1 == 105

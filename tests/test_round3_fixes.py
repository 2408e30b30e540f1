"""Round-3 ADVICE/verdict fixes.

* near_dup_components: pointer-jumping converges deep chains in O(log n)
  rounds, and an unreachable fixed-point RAISES instead of silently
  returning wrong labels (ADVICE r2, medium).
* lsh_signatures / lsh_bucket_candidates: empty input returns an empty
  typed frame instead of a TypeError (ADVICE r2, low).
* centroids_first_k: out-of-range n_cells fails loudly (VERDICT r2 #4).
* train_centroids_minibatch: opt-in refinement improves ivf_topk recall
  on data where the first-K quantizer is degenerate.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from dumpster import dedup, simsearch


def _chain_pairs(spark, n):
    """A single path graph 0-1-2-...-n (diameter n)."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long")


def test_components_deep_chain_converges(spark):
    # diameter 120 >> the old one-hop cap of 20; pointer jumping needs
    # ~log2(120) ≈ 7 pull+jump rounds
    n = 120
    out = dedup.near_dup_components(_chain_pairs(spark, n), max_iter=12)
    rows = out.collect()
    assert len(rows) == n + 1
    assert all(r["component"] == 0 for r in rows)


def test_components_raises_when_capped(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.near_dup_components(_chain_pairs(spark, 200), max_iter=2)


def test_components_multi_cluster_still_exact(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long")
    out = {r["id"]: r["component"]
           for r in dedup.near_dup_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_lsh_signatures_empty_input(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>")
    sig = simsearch.lsh_signatures(empty)
    assert sig.count() == 0
    assert [f.name for f in sig.schema.fields] == ["vec_id", "sig"]
    buckets = simsearch.lsh_bucket_candidates(empty)
    assert buckets.count() == 0
    # embedding_near_dups_lsh inherits the guard
    pairs = simsearch.embedding_near_dups_lsh(empty)
    assert pairs.count() == 0


def test_ivf_n_cells_cap(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="out of range"):
        simsearch.centroids_first_k(emb, simsearch.MAX_IVF_CELLS + 1)
    with pytest.raises(ValueError, match="out of range"):
        simsearch.centroids_first_k(emb, 0)


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """4 tight clusters in 8-d; the 4 lowest ids all live in cluster 0,
    so the first-K quantizer is degenerate (all centroids in one
    cluster) and partial-probe recall suffers until training moves
    them."""
    rng = np.random.default_rng(3)
    centers = np.eye(4, 8) * 10.0
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(40):
            v = centers[c] + rng.normal(0, 0.05, 8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    # ids 0..39 are all cluster 0 → first-4 centroids degenerate
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_minibatch_training_improves_recall(clustered_emb):
    queries = [5, 45, 85, 125]
    brute = {(r["query_id"], r["neighbor_id"])
             for r in simsearch.brute_topk(clustered_emb, queries, k=5)
             .collect()}

    def recall(cent):
        got = {(r["query_id"], r["neighbor_id"])
               for r in simsearch.ivf_topk(
                   clustered_emb, queries, k=5, n_cells=4, n_probe=1,
                   centroids=cent).collect()}
        return len(got & brute) / len(brute)

    first_k = simsearch.centroids_first_k(clustered_emb, 4)
    trained = simsearch.train_centroids_minibatch(
        clustered_emb, n_cells=4, n_iter=4, sample_frac=0.8)
    r0, r1 = recall(first_k), recall(trained)
    assert r1 > r0, (r0, r1)
    assert r1 >= 0.95


# --- round-3 continuation review fixes ------------------------------------

def test_multischema_null_schema_id_refused(spark, tmp_path):
    """NULL schema ids fell through the stray guard (three-valued ~isin)
    and were silently written to no generation."""
    import pytest
    from dumpster.engine import encode_table_multischema
    df = spark.createDataFrame(
        [(1, "s1", "a"), (2, None, "b")],
        "doc_id int, schema_id string, payload string")
    with pytest.raises(ValueError, match="NULL"):
        encode_table_multischema(
            df, str(tmp_path / "ms"), schema_col="schema_id",
            schemas={"s1": ["doc_id", "payload"]}, n_buckets=2,
            chunk_rows=64)


def test_bloom_namespace_column_rejected():
    """A data column named __bloom:* would be skipped as an index on
    decode (silent all-NULL loss) — encode must refuse it."""
    import pyarrow as pa
    import pytest
    from dumpster.chunk import encode_chunk
    b = pa.RecordBatch.from_arrays(
        [pa.array([1, 2]), pa.array(["x", "y"])],
        names=["ok", "__bloom:url"])
    with pytest.raises(ValueError, match="__bloom"):
        encode_chunk(b)


def test_file_lock_release_only_own_token(tmp_path):
    """A holder whose lock was stale-broken must NOT unlink the next
    holder's fresh lock on exit."""
    import os
    from dumpster import fs as fslib
    lock = str(tmp_path / "l.lock")
    ctx = fslib.file_lock(lock, timeout=2, stale=120)
    ctx.__enter__()
    # simulate a waiter breaking the lock and becoming the new holder
    os.unlink(lock)
    with open(lock, "w") as f:
        f.write("someone-else")
    ctx.__exit__(None, None, None)
    assert os.path.exists(lock)            # new holder's lock survives
    assert open(lock).read() == "someone-else"
    os.unlink(lock)


def test_read_blooms_corrupt_tail_returns_empty(tmp_path):
    """A bit-flipped footer length with intact tail magic must mean
    'cannot prune', not a garbage ranged read / json crash."""
    import struct
    import pyarrow as pa
    from dumpster.chunk import encode_chunk, read_blooms, _TAIL_LEN
    vals = [f"v{i}" for i in range(2048)]
    b = pa.RecordBatch.from_arrays([pa.array(vals)], names=["url"])
    blob, _ = encode_chunk(b)
    p = str(tmp_path / "c.dmc")
    with open(p, "wb") as f:
        f.write(bytes(blob))
    assert read_blooms(p, ["url"])         # healthy file has the bloom
    raw = bytearray(open(p, "rb").read())
    flen = struct.unpack_from("<I", raw, len(raw) - _TAIL_LEN)[0]
    struct.pack_into("<I", raw, len(raw) - _TAIL_LEN, flen ^ 0x4)
    with open(p, "wb") as f:
        f.write(raw)
    assert read_blooms(p, ["url"]) == {}   # no pruning, no crash


def test_mixed_prefix_and_range_pruning_compose(spark, tmp_path):
    """LIKE 'prefix%' (bytes upper bound) + a str range predicate on the
    same column previously hit a swallowed TypeError and lost pruning;
    they must now compose into a narrower chunk-file plan."""
    import pyspark.sql.functions as F
    from dumpster.datasource import DumpsterReader
    from pyspark.sql.datasource import LessThan, StringStartsWith
    from dumpster.engine import encode_table, table_schema
    out = str(tmp_path / "pfx")
    docs = spark.range(0, 400).select(
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 4, "0"))
        .alias("key"))
    encode_table(docs.orderBy("key"), out, bucket_expr=F.lit(0),
                 n_buckets=1, chunk_rows=64, order_cols=("key",))
    schema = table_schema(out)
    rd_all = DumpsterReader({"path": out}, schema)
    n_all = sum(len(p.files) for p in rd_all.partitions())
    rd = DumpsterReader({"path": out}, schema)
    list(rd.pushFilters([StringStartsWith(("key",), "k0"),
                         LessThan(("key",), "k0100")]))
    n = sum(len(p.files) for p in rd.partitions())
    assert 0 < n < n_all                    # both predicates engaged
    assert n <= 2                           # ~100 rows / 64-row chunks


# --- codec/container-layer review fixes ------------------------------------

def _rt(batch):
    """encode → decode → (decoded batch, stats)."""
    from dumpster.chunk import decode_chunk, encode_chunk
    blob, stats = encode_chunk(batch)
    return decode_chunk(bytes(blob)), stats


def test_date32_time32_roundtrip():
    """Spark DateType arrives as Arrow date32; the single-step int64 cast
    raised ArrowNotImplementedError and failed every date-bearing table."""
    import datetime
    import pyarrow as pa
    d = [datetime.date(2024, 1, 1), None, datetime.date(1969, 12, 31)]
    t = [datetime.time(1, 2, 3), datetime.time(0, 0), None]
    b = pa.RecordBatch.from_arrays(
        [pa.array(d, pa.date32()), pa.array(t, pa.time32("s"))],
        names=["d", "t"])
    back, _ = _rt(b)
    assert back.column(0).to_pylist() == d
    assert back.column(1).to_pylist() == t


def test_uint64_above_int63_roundtrip():
    """uint64 ≥ 2^63 overflowed Arrow's checked int64 cast; the bit-view
    bridge must round-trip exactly, and the zone map must be absent
    (int64 views of such values order wrongly)."""
    import json
    import pyarrow as pa
    vals = [2**64 - 1, 0, 5, None, 2**63]
    b = pa.RecordBatch.from_arrays([pa.array(vals, pa.uint64())],
                                   names=["u"])
    back, stats = _rt(b)
    assert back.column(0).to_pylist() == vals
    assert stats[0]["vmin"] is None and stats[0]["vmax"] is None


def test_float_inf_in_zone_map():
    """±inf are ordered values: excluding them from vmin/vmax made range
    pruning drop chunks whose only matching rows were infinities."""
    import math
    import pyarrow as pa
    from dumpster.engine import _chunk_may_match, _col_stats, _zone_filters
    b = pa.RecordBatch.from_arrays(
        [pa.array([1.0, 2.0, math.inf, -math.inf, math.nan])],
        names=["f"])
    back, stats = _rt(b)
    assert stats[0]["vmax"] == math.inf and stats[0]["vmin"] == -math.inf
    import json as _json
    cs = _col_stats(_json.dumps(stats))
    # the inf row matches f >= 10
    assert _chunk_may_match(cs, 5, _zone_filters([("f", 10.0, None)]))


def test_timestamp_ns_zone_map_in_micros():
    """Non-µs timestamp columns stored native-unit zone values while every
    predicate normalizes to µs — matching chunks were pruned away."""
    import datetime
    import json
    import numpy as np
    import pyarrow as pa
    from dumpster.engine import (_chunk_may_match, _col_stats, _stat_value,
                                 _zone_filters)
    ts = pa.array(np.array(["2023-01-01T00:00:00", "2023-06-01T10:30:00"],
                           dtype="datetime64[ns]"))
    b = pa.RecordBatch.from_arrays([ts], names=["t"])
    back, stats = _rt(b)
    assert back.column(0).type == pa.timestamp("ns")
    assert back.column(0).to_pylist() == ts.to_pylist()
    hi = _stat_value(datetime.datetime(2024, 1, 1,
                                       tzinfo=datetime.timezone.utc))
    cs = _col_stats(json.dumps(stats))
    assert _chunk_may_match(cs, 2, _zone_filters([("t", None, hi)]))
    lo_2025 = _stat_value(datetime.datetime(2025, 1, 1,
                                            tzinfo=datetime.timezone.utc))
    assert not _chunk_may_match(cs, 2, _zone_filters([("t", lo_2025, None)]))


def test_date_predicate_normalizes_to_days():
    """datetime.date predicate bounds must land in the date32 stat space
    (epoch days), not pass through as objects."""
    import datetime
    from dumpster.engine import _stat_value
    assert _stat_value(datetime.date(1970, 1, 2)) == 1
    assert _stat_value(datetime.date(1969, 12, 31)) == -1


# --- orchestration-layer review fixes ---------------------------------------

def test_clean_orphans_symlinked_chunks_dir(spark, tmp_path):
    """chunks/ as a symlink (fast-storage layout): realpath() removed the
    '/chunks/' marker from listed paths and EVERY referenced chunk was
    classified an orphan — clean_orphans must never touch referenced
    data, symlink or not."""
    import os
    import pyspark.sql.functions as F
    from dumpster.engine import clean_orphans, decode_table, \
        encode_table_partitioned
    out = str(tmp_path / "sym")
    os.makedirs(out)
    real = str(tmp_path / "fast_storage")
    os.makedirs(real)
    os.symlink(real, os.path.join(out, "chunks"))
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp")
         + F.make_interval(hours=(F.col("id") % 3).cast("int")))
        .alias("warc_ts"))
    encode_table_partitioned(df, out, ts_col="warc_ts", chunk_rows=64)
    before = decode_table(spark, out).count()
    rep = clean_orphans(spark, out)
    assert rep["orphans"] == 0                 # nothing referenced deleted
    assert decode_table(spark, out).count() == before == 200


def test_multischema_generation_ids_persist(spark, tmp_path):
    """Registering a NEW schema id that sorts before an existing one must
    not renumber the existing generations' bucket namespaces."""
    import json
    import os
    from dumpster.engine import decode_table, encode_table_multischema
    out = str(tmp_path / "msgen")
    df1 = spark.createDataFrame(
        [(1, "s20", "a"), (2, "s20", "b")],
        "doc_id int, schema_id string, payload string")
    encode_table_multischema(df1, out, schema_col="schema_id",
                             schemas={"s20": ["doc_id", "payload"]},
                             n_buckets=2, chunk_rows=64)
    gens1 = json.load(open(os.path.join(out, "_schema_gen.json")))
    # second run registers an id that sorts FIRST (input carries the
    # union of columns, per the contract)
    df2 = spark.createDataFrame(
        [(3, "s10", None, 7)],
        "doc_id int, schema_id string, payload string, extra int")
    encode_table_multischema(df2, out, schema_col="schema_id",
                             schemas={"s10": ["doc_id", "extra"],
                                      "s20": ["doc_id", "payload"]},
                             n_buckets=2, chunk_rows=64, resume=True)
    gens2 = json.load(open(os.path.join(out, "_schema_gen.json")))
    assert gens2["s20"] == gens1["s20"]        # namespace stable
    assert gens2["s10"] != gens2["s20"]
    got = decode_table(spark, out)
    assert got.count() == 3                    # nothing lost or skipped
    assert got.filter("payload IS NOT NULL").count() == 2
    assert got.filter("extra IS NOT NULL").count() == 1


def test_zone_filter_open_bounds_in_decode(spark, tmp_path):
    """decode_table(zone_filter=(c, lo, None)) documented open bounds but
    the executor-side prune raised TypeError on None."""
    import pyspark.sql.functions as F
    from dumpster.engine import decode_table, encode_table
    out = str(tmp_path / "zopen")
    df = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    encode_table(df.orderBy("doc_id"), out, bucket_expr=F.lit(0),
                 n_buckets=1, chunk_rows=64, order_cols=("doc_id",))
    got = decode_table(spark, out, zone_filter=("doc_id", 250, None))
    assert got.filter("doc_id >= 250").count() == 50
    got2 = decode_table(spark, out, zone_filter=("doc_id", None, 40))
    assert got2.filter("doc_id <= 40").count() == 41


def test_decode_schema_nullable_after_evolution(spark, tmp_path):
    """Old-generation chunks null-fill evolved columns; the decode schema
    must not claim nullable=False or Catalyst constant-folds
    `IS NULL` to false over the padded rows."""
    import pyspark.sql.functions as F
    from dumpster.engine import decode_table, encode_table
    out = str(tmp_path / "nullable")
    base = spark.range(0, 50).select(F.col("id").alias("doc_id"))
    encode_table(base, out, bucket_expr=F.lit(0), n_buckets=1,
                 chunk_rows=64)
    evolved = spark.range(50, 80).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 2).alias("extra"))   # non-null computed column
    encode_table(evolved, out, bucket_expr=F.lit(1), n_buckets=2,
                 chunk_rows=64)
    dec = decode_table(spark, out)
    assert all(f.nullable for f in dec.schema.fields)
    assert dec.filter("extra IS NULL").count() == 50   # not folded away


def test_stateful_dedup_within_batch(spark, tmp_path):
    """A replayed offset arriving in the SAME micro-batch must be emitted
    once (first-seen), not once per copy.

    Semantics per ADVICE r3: the groupBy shuffle does not preserve
    intra-batch arrival order, so the operator sorts the group by offset
    (Kafka's consumption order within a partition) before the running
    max.  With empty state every DISTINCT offset here is genuinely
    first-seen → 3 is emitted (the old arrival-order reading that
    dropped it depended on nondeterministic row order); the duplicate 5
    is still suppressed."""
    from dumpster.streaming import stateful_offset_dedup
    src = str(tmp_path / "dsrc")
    (spark.createDataFrame([(0, 5), (0, 3), (0, 5), (0, 6)],
                           "part long, off long")
     .coalesce(1).write.parquet(src))
    stream = spark.readStream.schema("part long, off long").parquet(src)
    sink = str(tmp_path / "dsink")
    q = (stateful_offset_dedup(stream).writeStream
         .format("parquet").option("path", sink)
         .option("checkpointLocation", str(tmp_path / "dck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r["off"] for r in spark.read.parquet(sink).collect())
    assert got == [3, 5, 6]       # duplicate 5 dropped, 3 kept


def test_salt_k_capped_to_n_buckets(spark):
    """salt_k > n_buckets must not emit bucket ids outside
    [0, n_buckets)."""
    import pyspark.sql.functions as F
    from dumpster import pipeline
    df = spark.range(0, 500).select(
        F.concat(F.lit("https://h"), (F.col("id") % 11).cast("string"),
                 F.lit(".ex/"), F.col("id").cast("string")).alias("url"))
    b = df.select(pipeline.salted_bucket(F.col("url"), 2, salt_k=4)
                  .alias("b")).agg(F.min("b"), F.max("b")).collect()[0]
    assert 0 <= b[0] and b[1] < 2


def test_nested_flat_sep_collision_rejected(spark, tmp_path):
    """Nested field names containing the flattening separator collide
    into duplicate flat columns — must raise upfront, not mangle."""
    import pytest
    import pyspark.sql.functions as F
    from dumpster.engine import encode_table
    df = spark.range(0, 4).select(
        F.struct(F.struct(F.col("id").alias("b")).alias("a"),
                 F.col("id").alias("a@b")).alias("s"))
    with pytest.raises(ValueError, match="duplicate column names"):
        encode_table(df, str(tmp_path / "flat"), bucket_expr=F.lit(0),
                     n_buckets=1)


def test_mixed_struct_flat_dirs_rejected(spark, tmp_path):
    """decode_tables over a flat dir plus a struct-typed dir must raise,
    not return mangled '@'-separated flat columns."""
    import pytest
    import pyspark.sql.functions as F
    from dumpster.engine import decode_tables, encode_table
    flat = str(tmp_path / "flatd")
    struct = str(tmp_path / "structd")
    spark.range(0, 10).select(F.col("id").alias("doc_id")) \
        .pipe = None  # noqa — keep lint quiet on unused
    encode_table(spark.range(0, 10).select(F.col("id").alias("doc_id")),
                 flat, bucket_expr=F.lit(0), n_buckets=1)
    encode_table(spark.range(0, 10).select(
        F.col("id").alias("doc_id"),
        F.struct(F.col("id").alias("x")).alias("s")),
        struct, bucket_expr=F.lit(0), n_buckets=1)
    with pytest.raises(ValueError, match="struct-typed and flat"):
        decode_tables(spark, [flat, struct]).count()


# --- ops-family review fixes -------------------------------------------------

def test_zero_vector_cosine_does_not_abort(spark):
    """A zero embedding previously aborted the whole job under Spark 4's
    default ANSI mode (DIVIDE_BY_ZERO); cosine is defined as 0 instead."""
    from dumpster.simsearch import embedding_near_dups
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 2.0]), (3, [1.0, 2.0])],
        "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dups(emb, threshold=0.9).collect()}
    assert pairs == {(2, 3)}       # zero vector similar to nothing


def test_brute_topk_unknown_query_ids(spark):
    """Typo'd/absent query ids must yield an empty typed result, not a
    numpy AxisError."""
    from dumpster.simsearch import brute_topk
    emb = spark.createDataFrame([(1, [1.0, 0.0])],
                                "vec_id long, embedding array<double>")
    got = brute_topk(emb, query_ids=[999])
    assert got.count() == 0
    assert got.columns == ["query_id", "neighbor_id", "sim"]


def test_lsh_and_buckets_skip_null_embeddings(spark):
    """A NULL first row previously crashed the dim probe (int(None));
    NULL embeddings carry no signature/bucket."""
    from dumpster.simsearch import lsh_bucket_candidates, lsh_signatures
    emb = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0]), (3, [1.0, 2.0])],
        "vec_id long, embedding array<double>")
    sigs = lsh_signatures(emb)
    assert sigs.count() == 2
    assert lsh_bucket_candidates(emb).count() >= 1


def test_ivf_custom_id_col(spark):
    """ivf_cells hardcoded 'vec_id' in its output schema, crashing
    ivf_topk with any non-default id_col."""
    from dumpster.simsearch import ivf_topk
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "id long, embedding array<double>")
    got = ivf_topk(emb, [0, 5], k=2, n_cells=2, n_probe=2, id_col="id")
    assert got.count() > 0
    assert set(got.select("query_id").distinct().toPandas()["query_id"]) \
        == {0, 5}


def test_simhash_single_doc_over_cap(spark):
    """One document larger than the vote-matrix cap must be processed in
    sub-chunks (bounded memory) and produce the same signature as the
    unchunked math."""
    import numpy as np
    import pandas as pd
    from dumpster import textops
    old = textops._TOKENS_PER_SLICE
    textops._TOKENS_PER_SLICE = 64          # force the over-cap path
    try:
        doc = " ".join(f"w{i % 13}" for i in range(1000))
        chunked = textops.simhash64.func(pd.Series([doc]))[0]
    finally:
        textops._TOKENS_PER_SLICE = old
    unchunked = textops.simhash64.func(pd.Series([doc]))[0]
    assert chunked == unchunked


def test_jobs_trigger_seconds_requires_bound(spark, tmp_path):
    """trigger_seconds previously never reached the stream writer AND the
    unbounded query was awaited forever; a bounded runner now requires
    run_for_seconds and honors the cadence."""
    import pytest
    import pyspark.sql.functions as F
    from dumpster.jobs import JobConfig, TableJob, run_jobs
    src = str(tmp_path / "jsrc")
    (spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("warc_ts"))
     .write.parquet(src))
    cfg = JobConfig(out_path=str(tmp_path / "jout"), tables=[
        TableJob(name="t", input=src, mode="stream_hourly",
                 trigger_seconds=1)])
    with pytest.raises(ValueError, match="run_for_seconds"):
        run_jobs(spark, cfg)
    cfg.tables[0].run_for_seconds = 15
    res = run_jobs(spark, cfg)
    assert res and res[0]["rows"] == 50

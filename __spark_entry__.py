"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: encode → decode → verify → per-lang report on
                 /root/testdata/sf0.001 (SURVEY.md §7.5).
queries()      — one entry per implemented operator (SURVEY.md §2.7 + the
                 training-data-pipeline family); each takes (spark, sf_dir).
oracle_sql()   — DuckDB-runnable ANSI SQL equivalents.  Column names and
                 types are aligned on both sides; non-SQL-expressible ops
                 (FSST internals, manifest, LSH buckets, sketches) are
                 rows-only by omission.
"""

from __future__ import annotations

import os
import re
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dumpster import dedup, pipeline, simsearch, textops
from dumpster.engine import decode_table, encode_summary, encode_table
from dumpster.multimodal import extract_media_meta

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# fixture strings spliced verbatim into oracle-paired SQL (point lookup /
# LIKE prefix) must contain no quote and no LIKE metacharacter ('_'
# matches any char — a host like src_1 would LIKE-match srcX1 rows on the
# Spark side while the oracle's equality would not, silently skewing the
# gate).  The guard makes the dependence on the fixture loud instead of
# silent (round-5 review finding).
_SAFE_SQL_LITERAL = re.compile(r"^[A-Za-z0-9:/.\-]+$")


def _pin_literal(s: str, what: str) -> str:
    if not s or not _SAFE_SQL_LITERAL.fullmatch(s):
        raise ValueError(
            f"fixture-derived {what} {s!r} is not a plain "
            f"[A-Za-z0-9:/.-] literal — splicing it into the paired "
            f"Spark/DuckDB SQL would make the correctness gate depend on "
            f"quote/LIKE escaping; adjust the query builders first")
    return s


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Encode the documents table through the codec engine, decode it back,
    assert exact equality, and report per-lang doc counts with the engine's
    compression ledger (SURVEY.md §7.5)."""
    docs = _t(spark, SF_DEFAULT, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_entry_")
    man = encode_table(
        docs, out,
        bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"),
        n_buckets=8, chunk_rows=4096)
    dec = decode_table(spark, out)
    if docs.exceptAll(dec).count() or dec.exceptAll(docs).count():
        raise AssertionError("round-trip mismatch: decode(encode(docs)) != docs")
    s = encode_summary(man)
    per_lang = dec.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return (per_lang
            .withColumn("table_rows", F.lit(int(s["rows"])))
            .withColumn("raw_bytes", F.lit(int(s["raw_bytes"])))
            .withColumn("encoded_bytes", F.lit(int(s["encoded_bytes"])))
            .withColumn("chunks", F.lit(int(s["chunks"])))
            .orderBy("lang"))


# ---------------------------------------------------------------------------
# codec-semantics + reference-dataflow operators (SURVEY.md §2.7)
# ---------------------------------------------------------------------------

def q_dict_codes_lang(spark, sf):
    d = _t(spark, sf, "documents").select("lang").distinct()
    w = Window.orderBy("lang")
    return d.select("lang", (F.dense_rank().over(w) - 1)
                    .cast("long").alias("code"))


def q_rle_runs_lang(spark, sf):
    d = _t(spark, sf, "documents")
    w_all = Window.orderBy("doc_id")
    w_lang = Window.partitionBy("lang").orderBy("doc_id")
    grp = (F.row_number().over(w_all) - F.row_number().over(w_lang))
    return (d.select("doc_id", "lang", grp.alias("__g"))
            .groupBy("lang", "__g")
            .agg(F.min("doc_id").cast("long").alias("run_start"),
                 F.count("*").cast("long").alias("run_len"))
            .drop("__g").select("lang", "run_start", "run_len"))


def q_for_residuals_ts(spark, sf):
    # SQL-visible demonstration of the FOR codec's residual semantics for
    # the DuckDB oracle.  The global window is oracle-scale scaffolding
    # only: the engine computes the same residuals per column-chunk inside
    # mapInArrow (codecs/forpack.py), never with a one-partition window.
    e = _t(spark, sf, "events")
    w = Window.partitionBy()
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return e.select("event_id",
                    (us - F.min(us).over(w)).cast("long").alias("residual_us"))


def q_delta_ts(spark, sf):
    # Same oracle-scale scaffolding note as q_for_residuals_ts: the engine
    # takes deltas per chunk in NumPy, not with a global ordered window.
    e = _t(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.orderBy("event_id")
    return e.select("event_id",
                    (us - F.lag(us).over(w)).cast("long").alias("delta_us"))


def q_hour_partition_events(spark, sf):
    e = _t(spark, sf, "events").withColumnRenamed("ts", "warc_ts")
    return (pipeline.hour_partition(e, "warc_ts")
            .groupBy("dt", F.col("hr").cast("long").alias("hr"))
            .agg(F.count("*").cast("long").alias("n")))


def q_dedup_replays_events(spark, sf):
    e = _t(spark, sf, "events")
    base = e.select((F.col("user_id") % 8).cast("long").alias("part"),
                    F.col("event_id").alias("off"))
    replay = base.filter(F.col("off") % 50 == 0)
    deduped = pipeline.dedup_replays(base.unionAll(replay), "part", "off")
    return deduped.groupBy("part").agg(F.count("*").cast("long").alias("n"))


def q_meta_project_events(spark, sf):
    e = (_t(spark, sf, "events")
         .select(F.col("event_id"), F.col("event_type"),
                 (F.col("user_id") % 8).cast("int").alias("part"),
                 F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")))
    m = pipeline.meta_project(e, "event_id", "event_id", "part", "ts_ms")
    return m.select(F.col("metadata.id").alias("id"),
                    F.col("metadata.offset").alias("offset"),
                    F.col("metadata.partition").alias("part"),
                    F.col("metadata.timestamp").alias("ts_ms"),
                    "event_type")


def q_record_type_routing(spark, sf):
    e = _t(spark, sf, "events")
    staged = e.select(
        F.when(F.col("value") < 2, None).otherwise(F.col("value")).alias("val"),
        F.when(F.col("event_type") == "error", F.lit("e")).alias("err"))
    return (pipeline.classify_records(staged, "val", "err")
            .groupBy("record_type").agg(F.count("*").cast("long").alias("n")))


def q_skew_profile_sources(spark, sf):
    return (_t(spark, sf, "documents")
            .groupBy(F.col("source").alias("host"))
            .agg(F.count("*").cast("long").alias("n")))


def q_salted_bucket_portable(spark, sf):
    d = _t(spark, sf, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    return d.select("doc_id", (h % 16).alias("bucket"))


# ---------------------------------------------------------------------------
# training-data pipeline: dedup family
# ---------------------------------------------------------------------------

def _augmented_docs(spark, sf):
    d = _t(spark, sf, "documents").select("doc_id", "text")
    dups = (d.filter(F.col("doc_id") % 20 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return d.unionAll(dups)


def q_exact_dup_groups(spark, sf):
    return dedup.exact_dup_groups(_augmented_docs(spark, sf))


def q_ngram_jaccard_pairs(spark, sf):
    return dedup.ngram_jaccard_pairs(_augmented_docs(spark, sf),
                                     threshold=0.5, n=3)


def q_minhash_signatures(spark, sf):
    return dedup.minhash_signatures(_t(spark, sf, "documents")
                                    .select("doc_id", "text"),
                                    n_bands=8, n=3)


def q_minhash_lsh_pairs(spark, sf):
    return dedup.minhash_lsh_pairs(_augmented_docs(spark, sf), n_bands=8,
                                   min_bands=2, n=3, max_bucket=10**9)


def q_near_dup_components(spark, sf):
    """Fuzzy-dedup clustering: connected components over MinHash-LSH pair
    edges (keep component == doc_id as the canonical survivor).  Oracle =
    a DuckDB recursive CTE over the SAME SQL-reproduced edge set."""
    # max_bucket uncapped for ORACLE EQUIVALENCE, exactly like
    # q_minhash_lsh_pairs: the recursive-CTE oracle has no bucket-size
    # cap, so a fixture where one band bucket exceeded the production
    # default (1000) would diverge the edge sets and fail the gate
    pairs = dedup.minhash_lsh_pairs(_augmented_docs(spark, sf), n_bands=8,
                                    min_bands=2, max_bucket=10**9)
    return dedup.near_dup_components(pairs)


def q_simhash_groups(spark, sf):
    # oracle-checked since round 2: token hashes are md5-derived and
    # DuckDB has md5(); the 64 bit-votes unroll into 64 sum aggregates
    # (see the generated SQL in oracle_sql)
    return dedup.simhash_groups(_augmented_docs(spark, sf))


def q_doc_fingerprints(spark, sf):
    # oracle-checked since round 2: the polynomial rolling hash is
    # expressible in DuckDB with HUGEINT + list_reduce (the fixture text
    # is pure ASCII, so ascii(char) == the UTF-8 byte the Spark kernel
    # hashes; verified octet_length(encode(text)) == length(text) for
    # every fixture row)
    d = _t(spark, sf, "documents")
    return d.select("doc_id", textops.doc_fingerprint("text").alias("fp"))


# ---------------------------------------------------------------------------
# training-data pipeline: text analysis
# ---------------------------------------------------------------------------

def q_lang_id(spark, sf):
    return textops.lang_id(_t(spark, sf, "documents"))


def q_quality_scores(spark, sf):
    return textops.quality_score(_t(spark, sf, "documents"))


def q_token_counts_by_lang(spark, sf):
    d = _t(spark, sf, "documents")
    return (d.groupBy("lang")
            .agg(F.sum(textops.token_count(F.col("text")))
                 .cast("long").alias("total_tokens"),
                 F.count("*").cast("long").alias("n_docs")))


# ---------------------------------------------------------------------------
# training-data pipeline: similarity search + multimodal
# ---------------------------------------------------------------------------

def q_ann_topk_cosine(spark, sf):
    emb = _t(spark, sf, "embeddings")
    return simsearch.brute_topk(emb, query_ids=list(range(10)), k=5)


def q_ann_lsh_buckets(spark, sf):   # oracle-checked (planes as SQL literals)
    return simsearch.lsh_bucket_candidates(_t(spark, sf, "embeddings"),
                                           n_planes=12, seed=42)


def _augmented_emb(spark, sf):
    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    dups = (e.filter(F.col("vec_id") % 20 == 0)
            .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
    return e.unionAll(dups)


def q_embedding_near_dups(spark, sf):
    # scale-shaped path: LSH band-bucket equijoin prefilter -> exact cosine
    # verify (no CartesianProduct in the plan; the all-pairs form survives
    # only as the pytest oracle for bounded fixtures).  Exact duplicates
    # share every band, so recall at the near-dup threshold is structural,
    # not probabilistic, on dup-injected corpora.  That structural claim
    # depends on a fixture invariant — every >=0.9 pair here is a
    # bit-identical duplicate (a non-identical ~0.9 pair would match all
    # 4 bands only ~95% of the time) — pinned loudly by
    # tests/test_simsearch_extra.py::
    # test_oracle_fixture_invariant_all_near_pairs_are_exact_dups.
    return simsearch.embedding_near_dups_lsh(_augmented_emb(spark, sf),
                                             threshold=0.9, n_planes=16,
                                             bands=4, seed=42)


def q_ivf_cell_assignments(spark, sf):
    return simsearch.ivf_cells(_t(spark, sf, "embeddings"), n_cells=16)


def q_ivf_topk(spark, sf):
    # n_probe = n_cells probes every cell, so the IVF plan must reproduce
    # the exact brute-force result — which makes the brute-force SQL a
    # valid oracle (round-1 verdict item 9: converted from rows-only).
    # Partial-probe recall behavior stays covered by pytest.
    return simsearch.ivf_topk(_t(spark, sf, "embeddings"),
                              query_ids=list(range(10)), k=5,
                              n_cells=16, n_probe=16)


def q_multimodal_meta(spark, sf):
    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("blob"))
    return extract_media_meta(d, "doc_id", "blob")


def q_catalog_restore(spark, sf):
    """K4 durable-catalog parity (round-1 verdict missing #3): encode,
    persist the registration in a JSON catalog, drop the session view
    (stand-in for a restart), restore_catalog, and query THROUGH the
    restored view.  The oracle computes the same aggregate on the raw
    table, so this is fully oracle-checked."""
    from dumpster.engine import restore_catalog, save_catalog
    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_cat_")
    encode_table(docs, out,
                 bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=4096)
    cat = os.path.join(out, "_catalog.json")
    save_catalog(cat, "dumpster_cat_docs", out)
    spark.catalog.dropTempView("dumpster_cat_docs")   # no-op when absent
    restore_catalog(spark, cat)
    return spark.sql(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(length(text)) AS BIGINT) AS chars "
        "FROM dumpster_cat_docs GROUP BY lang")


def q_schema_evolution_store(spark, sf):
    """Write-side schema evolution (round-1 verdict missing #4): a second
    encode with an ADDED column into the same store evolves _schema.json
    (versioned) instead of being rejected; old chunks decode with NULLs.
    Aggregate is SQL-expressible, so this is oracle-checked."""
    docs = _t(spark, sf, "documents").select("doc_id", "text", "lang")
    out = tempfile.mkdtemp(prefix="dumpster_q_evo_")
    encode_table(docs.filter(F.col("doc_id") % 2 == 0), out,
                 bucket_expr=F.lit(0), n_buckets=1, chunk_rows=4096,
                 resume=False)
    widened = (docs.filter(F.col("doc_id") % 2 == 1)
               .withColumn("score", (F.col("doc_id") * 2).cast("long")))
    encode_table(widened, out, bucket_expr=F.lit(1), n_buckets=2,
                 chunk_rows=4096, resume=False)
    dec = decode_table(spark, out)
    return dec.agg(
        F.count("*").cast("long").alias("rows"),
        F.sum(F.when(F.col("score").isNull(), 1).otherwise(0))
        .cast("long").alias("null_scores"),
        F.sum(F.coalesce(F.col("score"), F.lit(0)))
        .cast("long").alias("score_sum"))


def q_multischema_routing(spark, sf):
    """G2 STRICT parity (HourlyBasedRecordConsumer.java:20, :60-67): ONE
    call routes a batch carrying two schema generations into one store —
    gen-1 chunks physically lack the new column, decode null-fills, and
    the union aggregate is SQL-expressible so this is oracle-checked."""
    from dumpster.engine import encode_table_multischema
    docs = _t(spark, sf, "documents")
    gen1 = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.lit(1).alias("schema_id"), "doc_id", "lang",
        F.lit(None).cast("long").alias("chars"))
    gen2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.lit(2).alias("schema_id"), "doc_id", "lang",
        F.length("text").cast("long").alias("chars"))
    out = tempfile.mkdtemp(prefix="dumpster_q_ms_")
    encode_table_multischema(
        gen1.unionByName(gen2), out,
        schemas={1: ["doc_id", "lang"], 2: ["doc_id", "lang", "chars"]},
        n_buckets=4, chunk_rows=4096)
    dec = decode_table(spark, out)
    return dec.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("chars").isNull(), 1).otherwise(0))
        .cast("long").alias("gen1_rows"),
        F.sum(F.coalesce(F.col("chars"), F.lit(0)))
        .cast("long").alias("chars_sum"))


# ---------------------------------------------------------------------------
# engine-level (rows-only: filesystem side effects / codec internals)
# ---------------------------------------------------------------------------

def q_encode_documents_manifest(spark, sf):
    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_enc_")
    man = encode_table(
        docs, out,
        bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"),
        n_buckets=8, chunk_rows=4096)
    s = encode_summary(man)
    return spark.createDataFrame(
        [(int(s["buckets"]), int(s["chunks"]), int(s["rows"]),
          int(s["raw_bytes"]), int(s["encoded_bytes"]))],
        "buckets long, chunks long, rows long, raw_bytes long, encoded_bytes long")


def q_codec_selection_report(spark, sf):
    """Per-column chosen codec + byte ledger — the auto-selector's decisions
    made visible (rows-only: selector policy, not SQL-expressible)."""
    import json as _json
    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_sel_")
    man = encode_table(
        docs, out,
        bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"),
        n_buckets=8, chunk_rows=4096)
    rows = []
    for r in man.collect():
        for cs in _json.loads(r["col_stats"]):
            rows.append((cs["column"], cs["codec"], bool(cs["zlib"]),
                         int(cs["raw_bytes"]), int(cs["encoded_bytes"])))
    df = spark.createDataFrame(
        rows, "column string, codec string, zlib boolean, "
              "raw_bytes long, encoded_bytes long")
    return (df.groupBy("column", "codec", "zlib")
            .agg(F.sum("raw_bytes").alias("raw_bytes"),
                 F.sum("encoded_bytes").alias("encoded_bytes"),
                 F.count("*").alias("chunks")))


def q_roundtrip_zero_mismatch(spark, sf):
    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_rt_")
    encode_table(docs, out,
                 bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"),
                 n_buckets=8, chunk_rows=4096)
    dec = decode_table(spark, out)
    a = docs.exceptAll(dec).count()
    b = dec.exceptAll(docs).count()
    return spark.createDataFrame([(a, b)],
                                 "missing_rows long, extra_rows long")


def q_zone_pruned_scan(spark, sf):
    """Zone-map pruning end-to-end: encode ordered by doc_id, decode with a
    manifest zone filter (whole chunks skipped before any file is opened),
    apply the exact predicate, and the result must equal a plain WHERE —
    which is exactly what the DuckDB oracle runs."""
    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_zone_")
    encode_table(docs, out,
                 bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=64, order_cols=("doc_id",))
    dec = decode_table(spark, out, zone_filter=("doc_id", 100, 199))
    return (dec.filter(F.col("doc_id").between(100, 199))
            .select("doc_id", "lang", "source"))


def q_tpch_q1_via_engine(spark, sf):
    """TPC-H Q1 pricing summary computed on a table that has been encoded
    through the codec engine and decoded back — a reference user's own
    parquet table surviving the engine as a drop-in store.  Aggregation in
    exact decimal (float summation order differs between engines) with a
    single final cast to double for the portable hash."""
    li = _t(spark, sf, "lineitem")
    out = tempfile.mkdtemp(prefix="dumpster_q_tpch_")
    encode_table(li, out,
                 bucket_expr=F.pmod(F.xxhash64("l_orderkey"), F.lit(8))
                 .cast("int"),
                 n_buckets=8, chunk_rows=16384)
    dec = decode_table(spark, out)
    d = lambda c: F.col(c).cast("decimal(20,4)")
    return (dec.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(d("l_extendedprice")).cast("double")
                 .alias("sum_base_price"),
                 F.count("*").cast("long").alias("count_order")))


def q_local_mode_roundtrip(spark, sf):
    """Zero-shuffle encode path (engine.encode_table mode='local': bucket =
    input split, no exchange — the reference's own per-Kafka-partition
    layout, HourlyBasedRecordConsumer.java:157) must still round-trip the
    table exactly; the oracle is the table itself."""
    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_local_")
    encode_table(docs, out, mode="local", chunk_rows=4096)
    return decode_table(spark, out) \
        .select("doc_id", "text", "lang", "source", "n_chars")


def q_pruned_scan_io(spark, sf):
    """Ranged pruned reads (rows-only): a lang-only decode reads just the
    footer + header + lang byte ranges via the chunk footer index — the
    engine's Parquet-column-chunk analog.  Reports bytes read vs file
    bytes; the fraction must be well under 1."""
    import os as _os

    import pyarrow as pa

    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_io_")
    man = encode_table(
        docs, out,
        bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int"),
        n_buckets=8, chunk_rows=4096)
    files = [r["file"] for r in man.select("file").distinct().collect()]
    fdf = spark.createDataFrame([(f,) for f in files], "file string")

    def probe(batches):
        from dumpster.chunk import decode_chunk_file
        for b in batches:
            rows = []
            for fp in b.column(0).to_pylist():
                br: list = []
                decode_chunk_file(fp, columns=["lang"], bytes_read=br)
                rows.append({"bytes_read": br[0],
                             "file_bytes": _os.path.getsize(fp)})
            yield pa.RecordBatch.from_pylist(rows, schema=pa.schema(
                [("bytes_read", pa.int64()), ("file_bytes", pa.int64())]))

    d = fdf.mapInArrow(probe, schema="bytes_read long, file_bytes long")
    return d.agg(
        F.sum("bytes_read").alias("bytes_read"),
        F.sum("file_bytes").alias("file_bytes"),
        (F.sum("bytes_read") < F.sum("file_bytes")).alias("io_pruned"))


def q_verify_chunks_clean(spark, sf):
    """Integrity sweep over a fresh encode (rows-only): every chunk file
    decodes clean — corruption would surface as rows here, not as a job
    failure (engine.verify_chunks; the reference's inline decode-error
    capture, AvroSchemaRegistryDeserializer.java:29-42)."""
    from dumpster.engine import verify_chunks

    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_vfy_")
    encode_table(docs, out, mode="local", chunk_rows=4096)
    v = verify_chunks(spark, out)
    return v.agg(F.count("*").alias("files"),
                 F.sum(F.col("ok").cast("long")).alias("ok_files"),
                 F.sum("n_rows").alias("rows"))


def q_sql_over_encoded_table(spark, sf):
    """K4 parity: an encoded table published to SQL (the reference
    registers every uploaded file in the Hive Metastore so analysts can
    query it, HiveUtil.java:16-35).  Here register_decoded_view exposes
    the decoded DataFrame as a temp view and plain spark.sql runs over
    it; the oracle is the same SQL on the raw table."""
    from dumpster.engine import register_decoded_view

    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_sql_")
    encode_table(docs, out, mode="local", chunk_rows=4096)
    register_decoded_view(spark, out, "dumpster_docs_view")
    return spark.sql("""
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM dumpster_docs_view GROUP BY lang
    """)


def q_pushdown_where_view(spark, sf):
    """Transparent predicate pushdown (VERDICT r2 missing #4): the table
    is registered through the dumpster Python DataSource, the user writes
    a PLAIN SQL WHERE — no zone_filter argument anywhere — and the
    reader prunes chunk files against manifest zone maps at planning time
    (the reference's users get this from Hive partition pruning,
    HiveClient.java:88-94).  Chunk pruning is conservative; Spark
    re-applies the predicate row-level, so the result equals the oracle's
    plain WHERE exactly.  tests/test_datasource_pushdown.py asserts the
    planner actually drops non-overlapping chunks for this shape."""
    from dumpster.engine import register_decoded_view

    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_push_")
    encode_table(docs, out,
                 bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=64, order_cols=("doc_id",))
    register_decoded_view(spark, out, "dumpster_docs_pushdown",
                          pushdown=True)
    return spark.sql("""
        SELECT doc_id, lang, n_chars FROM dumpster_docs_pushdown
        WHERE doc_id BETWEEN 120 AND 260
    """)


def q_narrow_select_pushdown(spark, sf):
    """Column pruning through the pushdown view (VERDICT r3 missing #1,
    reference parity: ParquetHiveSerDe column projection,
    HiveClient.java:103-108).  The user writes a PLAIN narrow SQL SELECT
    through the front door (dumpster.sqlfront.sql): the analyzed plan's
    attribute references pick the required columns per view, the view is
    transparently swapped for a narrow registration whose ranged reads
    skip every other column's bytes on disk, and the full view is
    restored.  tests/test_sqlfront.py asserts the bytes actually shrink
    (io-trace <0.3x of the full scan on >64KiB chunks)."""
    from dumpster import sqlfront
    from dumpster.engine import register_decoded_view

    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_narrow_")
    encode_table(docs, out,
                 bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=64, order_cols=("doc_id",))
    register_decoded_view(spark, out, "dumpster_docs_narrow",
                          pushdown=True)
    return sqlfront.sql(spark, """
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM dumpster_docs_narrow
        WHERE n_chars > 50
        GROUP BY lang
    """)


def q_str_point_lookup(spark, sf):
    """String point lookup through the pushdown view — the single most
    common query shape against a web-page table (``WHERE url = ...``).
    The reference's only lookup acceleration is Hive partition pruning
    (HiveClient.java:88-94): a url equality there scans every file.  Here
    the pushed literal prunes chunks twice with zero user hints: at
    planning time against truncated string zone bounds (smin/smax,
    Parquet truncation semantics) and task-side against per-chunk bloom
    sections (the Parquet bloom-filter analog) — then Spark re-applies
    the row predicate, so the answer is exact at any zone granularity.
    Bloom engagement on ≥1024-row chunks and the never-false-negative
    contract are asserted in tests/test_bloom.py."""
    from dumpster.engine import register_decoded_view

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "doc_id", "lang", "n_chars")
    out = tempfile.mkdtemp(prefix="dumpster_q_ptlk_")
    encode_table(pages.orderBy("url"), out,
                 bucket_expr=F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=64, order_cols=("url",))
    register_decoded_view(spark, out, "dumpster_pages_ptlk", pushdown=True)
    target = _pin_literal(
        pages.filter(F.col("doc_id") == 42).first()["url"], "lookup url")
    return spark.sql(f"""
        SELECT url, doc_id, lang, n_chars FROM dumpster_pages_ptlk
        WHERE url = '{target}'
    """)


def q_url_prefix_scan(spark, sf):
    """Host-prefix scan through the pushdown view (``WHERE url LIKE
    'https://<host>%'``) — the second most common web-table query shape
    after the point lookup.  Catalyst pushes the LIKE as
    StringStartsWith; the reader maps the prefix to the string-zone
    interval [prefix, inc(prefix)) (Parquet truncated-bound increment)
    and prunes chunk files at planning time.  Exactness at any zone
    granularity: Spark re-applies the row predicate.  Pruning
    engagement is asserted in tests/test_datasource_pushdown.py."""
    from dumpster.engine import register_decoded_view

    docs = _t(spark, sf, "documents")
    pages = docs.select(
        F.concat(F.lit("https://"), F.col("source"), F.lit(".example/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        "doc_id", "lang", "n_chars")
    out = tempfile.mkdtemp(prefix="dumpster_q_pfx_")
    encode_table(pages.orderBy("url"), out,
                 bucket_expr=F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=64, order_cols=("url",))
    register_decoded_view(spark, out, "dumpster_pages_pfx", pushdown=True)
    host = _pin_literal(docs.orderBy("doc_id").first()["source"],
                        "prefix host")
    return spark.sql(f"""
        SELECT url, doc_id, lang, n_chars FROM dumpster_pages_pfx
        WHERE url LIKE 'https://{host}.example/%'
    """)


def q_compact_stream_roundtrip(spark, sf):
    """Small-file compaction (streaming.compact_stream): three micro-batch
    tables of KB-sized chunklets fold into one well-chunked table whose
    content is bit-equal to the source — the engine's answer to the
    Kafka-sink millions-of-small-objects failure mode (the reference
    emits one parquet file per writer close,
    HourlyBasedRecordConsumer.java:155-157).  Returns the full compacted
    table row set so the driver hash checks content equality; the chunk
    count drop is asserted in tests/test_streaming.py."""
    from dumpster.streaming import compact_stream, decode_stream_table

    docs = _t(spark, sf, "documents")
    src = tempfile.mkdtemp(prefix="dumpster_q_compact_src_")
    for b in range(3):
        encode_table(docs.filter(F.col("doc_id") % 3 == b),
                     os.path.join(src, f"batch={b:06d}"),
                     bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(2))
                     .cast("int"),
                     n_buckets=2, chunk_rows=32)
    dst = tempfile.mkdtemp(prefix="dumpster_q_compact_dst_")
    compact_stream(spark, src, dst, chunk_rows=65536, mode="local")
    return decode_table(spark, dst).select(
        "doc_id", "text", "lang", "source", "n_chars")


def q_schema_evolution_union(spark, sf):
    """G2 parity: two schema generations united without write failure (the
    reference keeps one writer per distinct Avro schema within an hour
    bucket, HourlyBasedRecordConsumer.java:20, :58-67).
    unionByName(allowMissingColumns=True) upcasts both generations to the
    superset schema the encoder then sees — new fields are NULL on old
    rows, dropped fields NULL on new rows."""
    from dumpster.pipeline import union_evolving

    docs = _t(spark, sf, "documents")
    v1 = docs.select("doc_id", "lang", "source")
    v2 = (docs.filter(F.col("doc_id") % 3 == 0)
          .select((F.col("doc_id") + 10_000_000).alias("doc_id"), "lang",
                  (F.col("n_chars").cast("double") / 100).alias("quality")))
    return union_evolving([v1, v2])


def q_hour_partitioned_encode(spark, sf):
    """G1+K1 composition, reference-layout parity: encode events into the
    reference's dt=/hr= chunk tree (HourlyBasedRecordConsumer.java:125-131)
    and decode ONLY hr=03 via directory pruning (path_glob) — equal to a
    plain WHERE hour(ts)=3, which is the oracle."""
    from dumpster.engine import encode_table_partitioned

    ev = _t(spark, sf, "events")
    out = tempfile.mkdtemp(prefix="dumpster_q_hp_")
    encode_table_partitioned(ev, out, ts_col="ts", chunk_rows=8192)
    dec = decode_table(spark, out, path_glob="*/hr=03/*")
    return (dec.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt"))
            .agg(F.count("*").alias("n")))


def q_embeddings_roundtrip(spark, sf):
    """list<float> columns through the codec layer (rows-only)."""
    emb = _t(spark, sf, "embeddings")
    out = tempfile.mkdtemp(prefix="dumpster_q_emb_")
    encode_table(emb, out,
                 bucket_expr=F.pmod(F.xxhash64("vec_id"), F.lit(8)).cast("int"),
                 n_buckets=8, chunk_rows=4096)
    dec = decode_table(spark, out)
    a = emb.exceptAll(dec).count()
    b = dec.exceptAll(emb).count()
    return spark.createDataFrame([(a, b)],
                                 "missing_rows long, extra_rows long")


def q_repetition_signals(spark, sf):
    """Gopher-style repetition quality signals (textops.repetition_signals)
    over the documents table — the dominant low-quality-document class in
    web crawls; per-row Column expressions for the n-gram legs plus one
    map-side-combinable word-count aggregation."""
    return textops.repetition_signals(_t(spark, sf, "documents"))


def q_redact_pii(spark, sf):
    """PII scrubbing (textops.redact_pii): the synthetic corpus carries no
    PII, so each doc gets a deterministic injected email + phone + IPv4
    and the op must scrub exactly those — replacement text AND per-type
    counts are value-hashed against the DuckDB oracle."""
    docs = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" contact u"),
                 F.col("doc_id").cast("string"), F.lit("@ex.com or "),
                 F.lit("555-867-5309 at 10.0.0."),
                 (F.col("doc_id") % 256).cast("string")).alias("text"))
    return textops.redact_pii(docs)


def q_canonical_urls(spark, sf):
    """URL canonicalization (textops.canonical_url) — the key for the
    URL-level dedup pass every crawl pipeline runs first.  Deterministic
    case/port/fragment variants are injected per doc and both the raw
    and canonical forms are value-hashed against the oracle."""
    m4 = F.col("doc_id") % 4
    url = F.concat(
        F.when(m4 == 0, F.lit("HTTP://")).when(m4 == 1, F.lit("https://"))
         .when(m4 == 2, F.lit("http://")).otherwise(F.lit("https://")),
        F.lit("WWW.Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(m4 == 0, F.lit(":80")).when(m4 == 3, F.lit(":443"))
         .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0, F.lit(""))
         .otherwise(F.concat(F.lit("/Path/"),
                             F.col("doc_id").cast("string"),
                             F.lit("#frag"))))
    return (_t(spark, sf, "documents")
            .select("doc_id", url.alias("raw_url"),
                    textops.canonical_url(url).alias("canonical")))


def q_contamination_overlap(spark, sf):
    """Benchmark decontamination (dedup.contamination_overlap): per-doc
    fraction of distinct word 8-grams shared with a benchmark corpus —
    here every 17th doc plays the eval set, so those docs score 1.0 and
    the rest measure the synthetic vocabulary's collision floor.  One
    shuffle; the benchmark side is broadcast."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 17 == 0)
    return dedup.contamination_overlap(d, bench, n=8)


def q_dedup_keep_canonical(spark, sf):
    """Fuzzy dedup END TO END (dedup.dedup_keep_canonical): MinHash-LSH
    pairs → connected components → keep min-id doc per cluster, all
    singletons survive.  The oracle recomputes the clusters with a
    recursive CTE and anti-selects the non-canonical ids."""
    docs = _augmented_docs(spark, sf)
    pairs = dedup.minhash_lsh_pairs(docs, n_bands=8, min_bands=2,
                                    max_bucket=10**9)
    kept = dedup.dedup_keep_canonical(docs, pairs)
    return kept.select("doc_id", F.md5("text").alias("text_md5"))


_BLOCKLIST_RULES = ("example0.com", "example3.com", "a.example5.com")


def _synth_block_url(doc_id_col):
    """Deterministic URL fixture for the blocklist ops: four host shapes
    per doc — bare domain, www, deep subdomain, and a 'notexampleK.com'
    look-alike that must NOT match (label-boundary semantics)."""
    m4 = doc_id_col % 4
    k = (doc_id_col % 7).cast("string")
    host = (F.when(m4 == 0, F.concat(F.lit("example"), k, F.lit(".com")))
            .when(m4 == 1, F.concat(F.lit("WWW.Example"), k, F.lit(".COM")))
            .when(m4 == 2, F.concat(F.lit("cdn.a.example"), k,
                                    F.lit(".com")))
            .otherwise(F.concat(F.lit("notexample"), k, F.lit(".com"))))
    return F.concat(F.lit("http://user@"), host, F.lit(":8080/p/"),
                    doc_id_col.cast("string"))


def q_host_blocklist_matches(spark, sf):
    """URL domain-blocklist matching (textops.host_suffix_matches):
    suffix-explode equijoin against a broadcast blocklist — equality OR
    subdomain match on label boundaries, most-specific rule wins.
    tests/test_training_ops.py covers the complementary
    host_blocklist_filter anti-join."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", _synth_block_url(F.col("doc_id")).alias("url"))
    bl = spark.createDataFrame([(r,) for r in _BLOCKLIST_RULES],
                               "domain string")
    return textops.host_suffix_matches(docs, bl)


def q_repeated_passage_removal(spark, sf):
    """CCNet-style boilerplate removal (dedup.remove_repeated_passages):
    passages occurring ≥2 times across the corpus are deleted from every
    doc, survivors reassembled in order.  Fixture: a shared footer (hot
    everywhere), a mod-keyed passage (hot only when the mod collides), a
    unique passage (never hot), an empty passage (preserved verbatim),
    and all-boilerplate docs (dropped)."""
    did = F.col("doc_id")
    p1 = F.concat(F.lit("alpha beta gamma "), (did % 400).cast("string"))
    p2 = F.lit("shared footer boilerplate")
    p3 = F.concat(F.lit("unique content "), did.cast("string"))
    nl = F.lit("\n")
    text = (F.when(did % 10 == 0, p2)
            .when(did % 10 == 1, F.concat(p1, nl, nl, p3))
            .otherwise(F.concat(p1, nl, p2, nl, p3)))
    docs = _t(spark, sf, "documents").select("doc_id", text.alias("text"))
    return dedup.remove_repeated_passages(docs, min_count=2)


def q_url_keep_latest(spark, sf):
    """Snapshot dedup (dedup.dedup_url_keep_latest): newest capture per
    canonical URL, one map-side-combinable groupBy.  Fixture URLs need
    canonicalization to collide (case, :80, fragment); capture times are
    distinct within each group so the survivor is unique."""
    did = F.col("doc_id")
    url = F.concat(F.lit("HTTP://Example"), (did % 40).cast("string"),
                   F.lit(".com:80/p/"), (did % 120).cast("string"),
                   F.lit("#f"), did.cast("string"))
    docs = _t(spark, sf, "documents").select(
        "doc_id", url.alias("url"),
        (F.lit(1704067200) + (did * 37) % 500).alias("ts"))
    return dedup.dedup_url_keep_latest(docs, url_col="url", ts_col="ts")


_SAMPLE_RATES = {"en": 0.65, "de": 0.4, "fr": 0.15}


def q_stratified_sample(spark, sf):
    """Corpus mixing (textops.stratified_sample): deterministic md5-keyed
    per-language keep-rates, unlisted languages at the 5% default.  Pure
    row-local filter — reproducible across engines and partitionings,
    which is exactly what the DuckDB oracle verifies."""
    docs = _t(spark, sf, "documents").select("doc_id", "lang")
    return textops.stratified_sample(docs, "lang", _SAMPLE_RATES,
                                     key_col="doc_id", default_rate=0.05)


def q_sessionize_events(spark, sf):
    """Gap-based sessionization (pipeline.sessionize): one shuffle, both
    windows share a single Exchange+Sort; 6h gap over the 30-day events
    table gives a mix of multi-event sessions and singletons."""
    e = _t(spark, sf, "events").select("event_id", "user_id", "ts")
    return (pipeline.sessionize(e, "user_id", "ts", gap_seconds=21600)
            .select("event_id", "user_id", "session_id"))


_TB_BUDGETS = {"en": 30000, "de": 5000, "zh": 100000, "fr": 0}


def q_token_budget_select(spark, sf):
    """Quality-ordered token-budget selection (textops.
    select_token_budget): two-phase histogram + boundary-bucket window,
    exactly equal to the pure window formulation the oracle runs.
    Budgets cover every path: partial strata (en, de), a stratum whose
    budget exceeds its total (zh → kept whole, threshold None), a zero
    budget (fr → dropped), and the default for the unlisted es."""
    q = ((F.col("doc_id") * 2654435761) % 1000) / 1000.0
    docs = _t(spark, sf, "documents").select(
        "doc_id", "lang", q.alias("quality"),
        F.col("n_chars").alias("n_tokens"))
    return textops.select_token_budget(
        docs, "lang", _TB_BUDGETS, default_budget=8000)


def q_top_words(spark, sf):
    """Corpus vocabulary (textops.top_k_words): flatMap explode,
    map-side-combined word count, TakeOrderedAndProject top-k (per-
    partition top-k, driver merge — never a global sort shuffle)."""
    return textops.top_k_words(_t(spark, sf, "documents"), k=50)


def _span_fixture(spark, sf):
    """The shared ExactSubstr fixture: a 10-token ``g{doc_id%40}`` block
    injected ahead of the real text, so every doc carries at least one
    corpus-duplicated 8-gram region.  ONE definition for both the
    detection and removal queries; its SQL twin is
    ``_SPAN_FIXTURE_SQL`` — keep the two in sync (round-5 review
    finding: four independent copies had to stay bit-identical by
    inspection)."""
    did = F.col("doc_id")
    g = F.concat(F.lit("g"), (did % 40).cast("string"))
    block = F.concat_ws(" ", *[g] * 10)
    return _t(spark, sf, "documents").select(
        "doc_id", F.concat(block, F.lit(" "), F.col("text")).alias("text"))


# DuckDB twin of _span_fixture: trim(repeat(g || ' ', 10)) == the
# concat_ws 10-token block (trailing separator trimmed)
_SPAN_FIXTURE_SQL = (
    "(SELECT doc_id, trim(repeat('g' || CAST(doc_id % 40 AS "
    "VARCHAR) || ' ', 10)) || ' ' || text AS text FROM documents)")


def q_duplicate_spans(spark, sf):
    """ExactSubstr-style duplicated-span detection (dedup.
    duplicate_spans) over the shared ``_span_fixture``; accidental
    repeats inside the synthetic text are found identically by both
    engines."""
    return dedup.duplicate_spans(_span_fixture(spark, sf), k=8)


def q_dedup_against_store(spark, sf):
    """Incremental crawl-over-crawl dedup (dedup.dedup_against_store):
    an encoded fingerprint ledger (md5(text) of every doc_id%5==0 doc)
    is decoded as a ONE-COLUMN pruned read and anti-joined against the
    next dump.  Oracle: plain anti-join vs the same deterministic
    subset."""
    docs = _t(spark, sf, "documents")
    ledger = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.md5(F.col("text")).alias("fp"))
    out = tempfile.mkdtemp(prefix="dumpster_q_fpstore_")
    encode_table(ledger, out, mode="local", chunk_rows=4096)
    return dedup.dedup_against_store(spark, docs, out)


def q_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing (textops.pack_sequences):
    distributed two-phase prefix sum ≡ the oracle's single global
    window; documents straddle 4096-token windows, n_chars stands in
    for the token count."""
    docs = _t(spark, sf, "documents").select(
        "doc_id", F.col("n_chars").alias("n_tokens"))
    return textops.pack_sequences(docs, seq_len=4096)


def q_normalize_text(spark, sf):
    """Text normalization (textops.normalize_text): control-char strip,
    CRLF→LF, whitespace-run collapse, paragraph-break collapse, trim —
    map-only regexp Column pipeline over deterministically messed-up
    text (tabs, CRs, a NUL, space-padded newlines)."""
    messy = F.concat(
        F.lit("  \tIntro\r\n"), F.lit("x\x00y \n  \n \n\nz\t\tw  "),
        F.lit("\n"), F.col("text"), F.lit("   "))
    docs = _t(spark, sf, "documents").select("doc_id", messy.alias("text"))
    return textops.normalize_text(docs)


def q_writer_sink_roundtrip(spark, sf):
    """The df.write front door: two appends through Spark's V2 commit
    protocol (chunks task-side, manifests published by the driver
    committer — the reference's data-before-offset-commit ordering,
    HourlyBasedPartitioner.java:160-182, as a native Spark sink).  The
    second append carries an extra column, so the read also exercises
    add-only evolution null-fill.  tests/test_writer_sink.py asserts the
    invisibility-until-commit and abort semantics."""
    from dumpster.datasource import register_dumpster_source

    register_dumpster_source(spark)
    docs = _t(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="dumpster_q_wsink_")
    docs.filter(F.col("doc_id") % 2 == 0) \
        .select("doc_id", "lang", "source") \
        .write.format("dumpster").mode("append").save(out)
    docs.filter(F.col("doc_id") % 2 == 1) \
        .select("doc_id", "lang", "source",
                (F.col("n_chars").cast("double") / 100).alias("quality")) \
        .write.format("dumpster").mode("append").save(out)
    return spark.read.format("dumpster").option("path", out).load()


# ---------------------------------------------------------------------------
# round-5 additions + consolidated entries
#
# The driver's correctness gate checks the FIRST 50 queries() entries only
# (VERDICT r4 "Next round" #1: the whole round-4 batch fell past the cap).
# Overlapping stable entries are therefore merged pairwise — each merged
# query JOINs or UNION-tags its constituents, so the driver still value-
# hashes every constituent's full output, just under one key.  The
# constituent q_* functions stay defined (plan audits in
# tools/explain_review.py drive them directly).
# ---------------------------------------------------------------------------

def q_duplicate_span_removal(spark, sf):
    """ExactSubstr END TO END (dedup.remove_duplicate_spans): the spans
    q_duplicate_spans detects over the same fixture are cut out of the
    token stream and survivors reassembled in order — the second half of
    the Lee et al. pipeline (round-4 verdict missing #5)."""
    docs = _span_fixture(spark, sf)
    spans = dedup.duplicate_spans(docs, k=8)
    return dedup.remove_duplicate_spans(docs, spans)


def q_ts_codec_residuals(spark, sf):
    """for_residuals_ts ⋈ delta_ts on event_id — FOR and DELTA codec
    semantics in one oracle surface."""
    return q_for_residuals_ts(spark, sf).join(q_delta_ts(spark, sf),
                                              "event_id")


def q_lang_dict_rle(spark, sf):
    """dict_codes_lang ⋈ rle_runs_lang on lang — DICT codes and RLE runs
    in one oracle surface."""
    return q_dict_codes_lang(spark, sf).join(q_rle_runs_lang(spark, sf),
                                             "lang")


def q_multimodal_meta_salted(spark, sf):
    """multimodal_meta ⋈ salted_bucket_portable on the doc id."""
    salted = (q_salted_bucket_portable(spark, sf)
              .withColumnRenamed("doc_id", "id"))
    return q_multimodal_meta(spark, sf).join(salted, "id")


def q_lang_quality_signals(spark, sf):
    """lang_id ⋈ quality_scores on doc_id."""
    return q_lang_id(spark, sf).join(q_quality_scores(spark, sf), "doc_id")


def q_pii_and_urls(spark, sf):
    """redact_pii ⋈ canonical_urls on doc_id."""
    return q_redact_pii(spark, sf).join(q_canonical_urls(spark, sf),
                                        "doc_id")


def q_doc_hash_signatures(spark, sf):
    """minhash_signatures ⋈ doc_fingerprints on doc_id."""
    return q_minhash_signatures(spark, sf).join(
        q_doc_fingerprints(spark, sf), "doc_id")


def q_contamination_repetition(spark, sf):
    """contamination_overlap ⋈ repetition_signals on doc_id."""
    return q_contamination_overlap(spark, sf).join(
        q_repetition_signals(spark, sf), "doc_id")


def q_dup_groups_exact_simhash(spark, sf):
    """exact_dup_groups ∪ simhash_groups, tagged by method."""
    ex = q_exact_dup_groups(spark, sf).select(
        F.lit("md5").alias("method"),
        F.col("text_md5").alias("grp_key"), "cnt", "keeper")
    sh = q_simhash_groups(spark, sf).select(
        F.lit("simhash").alias("method"),
        F.col("simhash").cast("string").alias("grp_key"), "cnt", "keeper")
    return ex.unionAll(sh)


def q_topk_brute_vs_ivf(spark, sf):
    """ann_topk_cosine ∪ ivf_topk (full probe ≡ brute), tagged."""
    b = q_ann_topk_cosine(spark, sf).select(
        F.lit("brute").alias("method"), "*")
    i = q_ivf_topk(spark, sf).select(F.lit("ivf").alias("method"), "*")
    return b.unionAll(i)


def q_ann_partition_assignments(spark, sf):
    """ann_lsh_buckets ∪ ivf_cell_assignments, tagged and column-aligned."""
    lsh = q_ann_lsh_buckets(spark, sf).select(
        F.lit("lsh").alias("method"), F.col("bucket").alias("a"),
        F.col("n_vectors").alias("b"), F.col("member_min").alias("c"),
        F.lit(None).cast("double").alias("sim"))
    ivf = q_ivf_cell_assignments(spark, sf).select(
        F.lit("ivf").alias("method"), F.col("vec_id").alias("a"),
        F.col("cell").alias("b"), F.lit(None).cast("long").alias("c"),
        "sim")
    return lsh.unionAll(ivf)


def q_string_pushdown_scans(spark, sf):
    """str_point_lookup ∪ url_prefix_scan, tagged by probe kind."""
    p = q_str_point_lookup(spark, sf).select(
        F.lit("point").alias("probe"), "*")
    u = q_url_prefix_scan(spark, sf).select(
        F.lit("prefix").alias("probe"), "*")
    return p.unionAll(u)


def q_roundtrip_local_compact(spark, sf):
    """local_mode_roundtrip ∪ compact_stream_roundtrip, tagged — both
    legs still encode+decode through their own engine paths."""
    loc = q_local_mode_roundtrip(spark, sf).select(
        F.lit("local").alias("mode"), "*")
    cmp_ = q_compact_stream_roundtrip(spark, sf).select(
        F.lit("compact").alias("mode"), "*")
    return loc.unionAll(cmp_)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- 48 full-oracle entries FIRST (driver checks the first 50;
        # rows-only entries close the dict).  Names ending in a family
        # suffix are round-5 pairwise merges — see the q_* docstrings for
        # which constituents each one value-covers. ---
        # reference dataflow + codec semantics
        "ts_codec_residuals": q_ts_codec_residuals,
        "lang_dict_rle": q_lang_dict_rle,
        "hour_partition_events": q_hour_partition_events,
        "dedup_replays_events": q_dedup_replays_events,
        "meta_project_events": q_meta_project_events,
        "record_type_routing": q_record_type_routing,
        "skew_profile_sources": q_skew_profile_sources,
        "multimodal_meta_salted": q_multimodal_meta_salted,
        # engine: encode/decode/pruning/evolution/catalog/sinks
        "roundtrip_zero_mismatch": q_roundtrip_zero_mismatch,
        "roundtrip_local_compact": q_roundtrip_local_compact,
        "embeddings_roundtrip": q_embeddings_roundtrip,
        "tpch_q1_via_engine": q_tpch_q1_via_engine,
        "zone_pruned_scan": q_zone_pruned_scan,
        "hour_partitioned_encode": q_hour_partitioned_encode,
        "schema_evolution_union": q_schema_evolution_union,
        "sql_over_encoded_table": q_sql_over_encoded_table,
        "pushdown_where_view": q_pushdown_where_view,
        "narrow_select_pushdown": q_narrow_select_pushdown,
        "string_pushdown_scans": q_string_pushdown_scans,
        "writer_sink_roundtrip": q_writer_sink_roundtrip,
        "catalog_restore": q_catalog_restore,
        "schema_evolution_store": q_schema_evolution_store,
        "multischema_routing": q_multischema_routing,
        # training pipeline: dedup family
        "dup_groups_exact_simhash": q_dup_groups_exact_simhash,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "doc_hash_signatures": q_doc_hash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "near_dup_components": q_near_dup_components,
        "dedup_keep_canonical": q_dedup_keep_canonical,
        "contamination_repetition": q_contamination_repetition,
        "repeated_passage_removal": q_repeated_passage_removal,
        "url_keep_latest": q_url_keep_latest,
        "duplicate_spans": q_duplicate_spans,
        "duplicate_span_removal": q_duplicate_span_removal,
        "dedup_against_store": q_dedup_against_store,
        # training pipeline: text analysis + corpus assembly
        "lang_quality_signals": q_lang_quality_signals,
        "token_counts_by_lang": q_token_counts_by_lang,
        "pii_and_urls": q_pii_and_urls,
        "normalize_text": q_normalize_text,
        "top_words": q_top_words,
        "host_blocklist_matches": q_host_blocklist_matches,
        "stratified_sample": q_stratified_sample,
        "token_budget_select": q_token_budget_select,
        "pack_sequences": q_pack_sequences,
        "sessionize_events": q_sessionize_events,
        # training pipeline: similarity search
        "topk_brute_vs_ivf": q_topk_brute_vs_ivf,
        "ann_partition_assignments": q_ann_partition_assignments,
        "embedding_near_dups": q_embedding_near_dups,
        # --- rows-only by design (no SQL oracle; pytest-covered) ---
        "encode_documents_manifest": q_encode_documents_manifest,
        "codec_selection_report": q_codec_selection_report,
        "pruned_scan_io": q_pruned_scan_io,
        "verify_chunks_clean": q_verify_chunks_clean,
    }


_AUG_CTE = """
aug AS (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
        WHERE doc_id % 20 = 0)
"""


def _shingle_cte_n(src: str, n: int) -> str:
    """_SHINGLE_CTE generalized to word n-grams of any n (DuckDB list
    lambdas, 1-based indexing — x is t[i])."""
    concat = " || ' ' || ".join(["x"] + [f"t[i+{j}]" for j in range(1, n)])
    return f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
sh AS (SELECT doc_id, unnest(list_distinct(list_filter(
         list_transform(t, (x,i) -> CASE WHEN i <= len(t)-{n - 1}
              THEN {concat} END),
         s -> s IS NOT NULL))) AS shingle
       FROM toks)
"""


# the common 3-gram case, kept as a '{src}'-templated string for the four
# .format(src=...) call sites — derived from _shingle_cte_n so there is
# exactly ONE definition of the shingle SQL (round-5 review finding: the
# previous verbatim copy could silently diverge from the generalized one)
_SHINGLE_CTE = _shingle_cte_n("{src}", 3)


def oracle_sql() -> dict[str, str]:
    d = {
        "dict_codes_lang": """
            SELECT lang, CAST(dense_rank() OVER (ORDER BY lang) - 1 AS BIGINT) AS code
            FROM (SELECT DISTINCT lang FROM documents)
        """,
        "rle_runs_lang": """
            WITH o AS (
              SELECT doc_id, lang,
                     row_number() OVER (ORDER BY doc_id)
                   - row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS g
              FROM documents)
            SELECT lang, CAST(min(doc_id) AS BIGINT) AS run_start,
                   CAST(count(*) AS BIGINT) AS run_len
            FROM o GROUP BY lang, g
        """,
        "for_residuals_ts": """
            SELECT event_id,
                   CAST(epoch_us(ts) - min(epoch_us(ts)) OVER () AS BIGINT) AS residual_us
            FROM events
        """,
        "delta_ts": """
            SELECT event_id,
                   CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY event_id) AS BIGINT) AS delta_us
            FROM events
        """,
        "hour_partition_events": """
            SELECT strftime(ts, '%Y-%m-%d') AS dt,
                   CAST(extract(hour FROM ts) AS BIGINT) AS hr,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        """,
        "dedup_replays_events": """
            WITH uni AS (
              SELECT CAST(user_id % 8 AS BIGINT) AS part, event_id AS off FROM events
              UNION ALL
              SELECT CAST(user_id % 8 AS BIGINT), event_id FROM events WHERE event_id % 50 = 0),
            d AS (SELECT part, off FROM uni GROUP BY part, off)
            SELECT part, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY part
        """,
        "meta_project_events": """
            SELECT CAST(event_id AS VARCHAR) AS id,
                   CAST(event_id AS BIGINT) AS offset,
                   CAST(user_id % 8 AS INTEGER) AS part,
                   CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
                   event_type
            FROM events
        """,
        "record_type_routing": """
            SELECT CASE WHEN value < 2 THEN 'TOMBSTONE'
                        WHEN event_type = 'error' THEN 'ERROR'
                        ELSE 'RECORD' END AS record_type,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        """,
        "skew_profile_sources": """
            SELECT source AS host, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY source
        """,
        "salted_bucket_portable": """
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS bucket
            FROM documents
        """,
        "exact_dup_groups": f"""
            WITH {_AUG_CTE}
            SELECT md5(text) AS text_md5, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(min(doc_id) AS BIGINT) AS keeper
            FROM aug GROUP BY md5(text) HAVING count(*) > 1
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_AUG_CTE}, {_SHINGLE_CTE.format(src='aug')},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                             count(*) AS i
                      FROM sh a JOIN sh b
                        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id)
            SELECT id_a, id_b,
                   round(i / (sa.n_sh + sb.n_sh - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE round(i / (sa.n_sh + sb.n_sh - i), 6) >= 0.5
        """,
        "minhash_signatures": f"""
            WITH {_SHINGLE_CTE.format(src='documents')},
            hs AS (SELECT doc_id,
                          CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                              % 1073741789 AS h
                   FROM sh),
            bands(band) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7))
            SELECT doc_id, band,
                   min(((band * 2 + 1) * h + band) % 1073741789) AS sig
            FROM hs CROSS JOIN bands GROUP BY doc_id, band
        """,
        "minhash_lsh_pairs": f"""
            WITH {_AUG_CTE}, {_SHINGLE_CTE.format(src='aug')},
            hs AS (SELECT doc_id,
                          CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                              % 1073741789 AS h
                   FROM sh),
            bands(band) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
            sig AS (SELECT doc_id, band,
                           min(((band * 2 + 1) * h + band) % 1073741789) AS sig
                    FROM hs CROSS JOIN bands GROUP BY doc_id, band)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS bands
            FROM sig a JOIN sig b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING count(*) >= 2
        """,
        "near_dup_components": f"""
            WITH RECURSIVE {_AUG_CTE}, {_SHINGLE_CTE.format(src='aug')},
            hs AS (SELECT doc_id,
                          CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                              % 1073741789 AS h
                   FROM sh),
            bands(band) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
            sig AS (SELECT doc_id, band,
                           min(((band * 2 + 1) * h + band) % 1073741789) AS sig
                    FROM hs CROSS JOIN bands GROUP BY doc_id, band),
            edges AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                      FROM sig a JOIN sig b
                        ON a.band = b.band AND a.sig = b.sig
                       AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id
                      HAVING count(*) >= 2),
            sym AS (SELECT id_a AS src, id_b AS dst FROM edges
                    UNION ALL
                    SELECT id_b, id_a FROM edges),
            reach(id, r) AS (
                SELECT DISTINCT src, src FROM sym
                UNION
                SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst)
            SELECT id, CAST(min(r) AS BIGINT) AS component
            FROM reach GROUP BY id
        """,
        "lang_id": textops.lang_id_sql(),
        "repetition_signals": textops.repetition_signals_sql(),
        "canonical_urls": f"""
            WITH u AS (SELECT doc_id,
                (CASE doc_id % 4 WHEN 0 THEN 'HTTP://'
                                 WHEN 1 THEN 'https://'
                                 WHEN 2 THEN 'http://'
                                 ELSE 'https://' END)
                || 'WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
                || (CASE WHEN doc_id % 4 = 0 THEN ':80'
                         WHEN doc_id % 4 = 3 THEN ':443' ELSE '' END)
                || (CASE WHEN doc_id % 3 = 0 THEN ''
                         ELSE '/Path/' || CAST(doc_id AS VARCHAR)
                              || '#frag' END) AS url
                FROM documents)
            SELECT doc_id, url AS raw_url,
                   {textops.canonical_url_sql('url')} AS canonical
            FROM u
        """,
        "contamination_overlap": f"""
            WITH {_shingle_cte_n('documents', 8)},
            bench AS (SELECT DISTINCT shingle FROM sh
                      WHERE doc_id % 17 = 0),
            per AS (SELECT s.doc_id, count(*) AS n_grams,
                           sum(CASE WHEN b.shingle IS NOT NULL
                                    THEN 1 ELSE 0 END) AS hits
                    FROM sh s LEFT JOIN bench b USING (shingle)
                    GROUP BY s.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(per.hits, 0) AS BIGINT) AS hits,
                   round(CASE WHEN coalesce(per.n_grams, 0) > 0
                              THEN CAST(per.hits AS DOUBLE) / per.n_grams
                              ELSE 0.0 END, 6) AS overlap_frac
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        """,
        "dedup_keep_canonical": f"""
            WITH RECURSIVE {_AUG_CTE}, {_SHINGLE_CTE.format(src='aug')},
            hs AS (SELECT doc_id,
                          CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
                              % 1073741789 AS h
                   FROM sh),
            bands(band) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
            sig AS (SELECT doc_id, band,
                           min(((band * 2 + 1) * h + band) % 1073741789) AS sig
                    FROM hs CROSS JOIN bands GROUP BY doc_id, band),
            edges AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                      FROM sig a JOIN sig b
                        ON a.band = b.band AND a.sig = b.sig
                       AND a.doc_id < b.doc_id
                      GROUP BY a.doc_id, b.doc_id
                      HAVING count(*) >= 2),
            sym AS (SELECT id_a AS src, id_b AS dst FROM edges
                    UNION ALL
                    SELECT id_b, id_a FROM edges),
            reach(id, r) AS (
                SELECT DISTINCT src, src FROM sym
                UNION
                SELECT s.src, reach.r FROM sym s JOIN reach ON reach.id = s.dst),
            comps AS (SELECT id, min(r) AS component
                      FROM reach GROUP BY id)
            SELECT a.doc_id, md5(a.text) AS text_md5
            FROM aug a
            WHERE a.doc_id NOT IN
                  (SELECT id FROM comps WHERE id <> component)
        """,
        "host_blocklist_matches": f"""
            WITH u AS (SELECT doc_id,
                'http://user@'
                || (CASE doc_id % 4
                    WHEN 0 THEN 'example' || CAST(doc_id % 7 AS VARCHAR)
                                || '.com'
                    WHEN 1 THEN 'WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
                                || '.COM'
                    WHEN 2 THEN 'cdn.a.example' || CAST(doc_id % 7 AS VARCHAR)
                                || '.com'
                    ELSE 'notexample' || CAST(doc_id % 7 AS VARCHAR)
                         || '.com' END)
                || ':8080/p/' || CAST(doc_id AS VARCHAR) AS url
                FROM documents),
            h AS (SELECT doc_id,
                         lower(regexp_extract(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)', 1))
                             AS host
                  FROM u),
            b(rule) AS (VALUES ('example0.com'), ('example3.com'),
                               ('a.example5.com')),
            m AS (SELECT doc_id, host, rule
                  FROM h JOIN b ON h.host = b.rule
                                OR h.host LIKE '%.' || b.rule)
            SELECT doc_id, host, max_by(rule, length(rule)) AS rule
            FROM m GROUP BY doc_id, host
        """,
        "repeated_passage_removal": """
            WITH u AS (SELECT doc_id,
                CASE WHEN doc_id % 10 = 0 THEN 'shared footer boilerplate'
                     WHEN doc_id % 10 = 1 THEN
                          'alpha beta gamma ' || CAST(doc_id % 400 AS VARCHAR)
                          || chr(10) || chr(10)
                          || 'unique content ' || CAST(doc_id AS VARCHAR)
                     ELSE 'alpha beta gamma ' || CAST(doc_id % 400 AS VARCHAR)
                          || chr(10) || 'shared footer boilerplate'
                          || chr(10)
                          || 'unique content ' || CAST(doc_id AS VARCHAR)
                END AS text
                FROM documents),
            p AS (SELECT doc_id, s.pos AS pos, s.passage AS passage
                  FROM (SELECT doc_id,
                               unnest(list_transform(
                                   string_split(text, chr(10)),
                                   (x, i) -> {'pos': i, 'passage': x})) AS s
                        FROM u)),
            hot AS (SELECT passage FROM p WHERE passage <> ''
                    GROUP BY passage HAVING count(*) >= 2)
            SELECT doc_id,
                   string_agg(passage, chr(10) ORDER BY pos) AS text
            FROM p
            WHERE passage = ''
               OR passage NOT IN (SELECT passage FROM hot)
            GROUP BY doc_id
        """,
        "url_keep_latest": f"""
            WITH u AS (SELECT doc_id,
                'HTTP://Example' || CAST(doc_id % 40 AS VARCHAR)
                    || '.com:80/p/' || CAST(doc_id % 120 AS VARCHAR)
                    || '#f' || CAST(doc_id AS VARCHAR) AS url,
                1704067200 + (doc_id * 37) % 500 AS ts
                FROM documents),
            c AS (SELECT doc_id, url, ts,
                         {textops.canonical_url_sql('url')} AS canon
                  FROM u)
            SELECT doc_id, url, ts FROM c
            QUALIFY row_number() OVER (PARTITION BY canon
                                       ORDER BY ts DESC, doc_id DESC) = 1
        """,
        "stratified_sample": (
            "SELECT doc_id, lang FROM ("
            + textops.stratified_sample_sql(
                "(SELECT doc_id, lang FROM documents)", "lang",
                _SAMPLE_RATES, "doc_id", 0.05)
            + ")"),
        "sessionize_events": (
            "SELECT event_id, user_id, session_id FROM ("
            + pipeline.sessionize_sql(
                "(SELECT event_id, user_id, ts FROM events)",
                "user_id", "ts", 21600, "event_id")
            + ")"),
        "token_budget_select": textops.select_token_budget_sql(
            "(SELECT doc_id, lang, "
            "((doc_id * 2654435761) % 1000) / 1000.0 AS quality, "
            "n_chars AS n_tokens FROM documents)",
            "lang", _TB_BUDGETS, default_budget=8000),
        "top_words": textops.top_k_words_sql("documents", k=50),
        "pack_sequences": textops.pack_sequences_sql(
            "(SELECT doc_id, n_chars AS n_tokens FROM documents)", 4096),
        "dedup_against_store": """
            SELECT * FROM documents d
            WHERE NOT EXISTS (
                SELECT 1 FROM documents s
                WHERE s.doc_id % 5 = 0 AND md5(s.text) = md5(d.text))
        """,
        "duplicate_spans": dedup.duplicate_spans_sql(
            _SPAN_FIXTURE_SQL, k=8),
        "normalize_text": (
            "SELECT doc_id, "
            + textops.normalize_text_sql(
                "('  ' || chr(9) || 'Intro' || chr(13) || chr(10) || "
                "'x' || chr(0) || 'y \n  \n \n\nz' || chr(9) || chr(9) "
                "|| 'w  ' || chr(10) || text || '   ')")
            + " AS text FROM documents"),
        "redact_pii": textops.redact_pii_sql(
            src="(SELECT doc_id, text || ' contact u' "
                "|| CAST(doc_id AS VARCHAR) || '@ex.com or ' "
                "|| '555-867-5309 at 10.0.0.' "
                "|| CAST(doc_id % 256 AS VARCHAR) AS text "
                "FROM documents) s"),
        "quality_scores": """
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   round((length(text) - (len(string_split(text, ' ')) - 1))
                         / len(string_split(text, ' ')), 4) AS avg_token_len,
                   CAST(CASE WHEN len(string_split(text, ' ')) BETWEEN 5 AND 100000
                             AND (length(text) - (len(string_split(text, ' ')) - 1))
                                 / len(string_split(text, ' ')) BETWEEN 2.0 AND 14.0
                        THEN 1 ELSE 0 END AS INTEGER) AS keep
            FROM documents
        """,
        "token_counts_by_lang": """
            SELECT lang,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY lang
        """,
        "ann_topk_cosine": """
            WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
                       FROM embeddings WHERE vec_id < 10),
            s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe), 6) AS sim
                  FROM embeddings e CROSS JOIN q
                  WHERE e.vec_id != q.query_id),
            r AS (SELECT *, row_number() OVER (
                     PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
                  FROM s)
            SELECT query_id, neighbor_id, sim, CAST(rnk AS BIGINT) AS rnk
            FROM r WHERE rnk <= 5
        """,
        "embedding_near_dups": """
            WITH aug AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 1000000, embedding FROM embeddings
              WHERE vec_id % 20 = 0)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS sim
            FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 6) >= 0.9
        """,
        "ivf_cell_assignments": """
            WITH c AS (SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
                       FROM embeddings ORDER BY vec_id LIMIT 16),
            s AS (SELECT e.vec_id, c.cell,
                         round(list_cosine_similarity(
                             CAST(e.embedding AS DOUBLE[]), c.cv), 6) AS sim
                  FROM embeddings e CROSS JOIN c),
            r AS (SELECT *, row_number() OVER (
                     PARTITION BY vec_id ORDER BY sim DESC, cell) AS rn
                  FROM s)
            SELECT vec_id, cell, sim FROM r WHERE rn = 1
        """,
        "multimodal_meta": """
            SELECT doc_id AS id,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   lower(hex(substr(text, 1, 4))) AS magic,
                   CASE WHEN substr(text, 1, 4) IN ('<htm', '<!DO') THEN 'html'
                        ELSE 'bin' END AS format,
                   substr(text, 1, 4) AS prefix
            FROM documents
        """,
        "roundtrip_zero_mismatch": """
            SELECT CAST(0 AS BIGINT) AS missing_rows, CAST(0 AS BIGINT) AS extra_rows
        """,
        "local_mode_roundtrip": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        "hour_partitioned_encode": """
            SELECT strftime(ts, '%Y-%m-%d') AS dt,
                   CAST(count(*) AS BIGINT) AS n
            FROM events
            WHERE CAST(extract(hour FROM ts) AS INTEGER) = 3
            GROUP BY 1
        """,
        "sql_over_encoded_table": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang
        """,
        "pushdown_where_view": """
            SELECT doc_id, lang, n_chars FROM documents
            WHERE doc_id BETWEEN 120 AND 260
        """,
        "narrow_select_pushdown": """
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents WHERE n_chars > 50 GROUP BY lang
        """,
        "str_point_lookup": """
            SELECT 'https://' || source || '.example/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
                   doc_id, lang, n_chars
            FROM documents WHERE doc_id = 42
        """,
        "url_prefix_scan": """
            SELECT 'https://' || source || '.example/d/'
                   || CAST(doc_id AS VARCHAR) AS url,
                   doc_id, lang, n_chars
            FROM documents
            WHERE source = (SELECT source FROM documents
                            ORDER BY doc_id LIMIT 1)
        """,
        "compact_stream_roundtrip": """
            SELECT doc_id, text, lang, source, n_chars FROM documents
        """,
        "writer_sink_roundtrip": """
            SELECT doc_id, lang, source, CAST(NULL AS DOUBLE) AS quality
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, lang, source, CAST(n_chars AS DOUBLE) / 100
            FROM documents WHERE doc_id % 2 = 1
        """,
        "schema_evolution_union": """
            SELECT doc_id, lang, source, CAST(NULL AS DOUBLE) AS quality
            FROM documents
            UNION ALL
            SELECT doc_id + 10000000, lang, CAST(NULL AS VARCHAR),
                   CAST(n_chars AS DOUBLE) / 100
            FROM documents WHERE doc_id % 3 = 0
        """,
        "zone_pruned_scan": """
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id BETWEEN 100 AND 199
        """,
        "tpch_q1_via_engine": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(20,4))) AS DOUBLE) AS sum_base_price,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "embeddings_roundtrip": """
            SELECT CAST(0 AS BIGINT) AS missing_rows, CAST(0 AS BIGINT) AS extra_rows
        """,
    }

    d["catalog_restore"] = """
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(length(text)) AS BIGINT) AS chars
        FROM documents GROUP BY lang
    """
    d["schema_evolution_store"] = """
        SELECT CAST(count(*) AS BIGINT) AS rows,
               CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS null_scores,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN doc_id * 2 ELSE 0 END)
                   AS BIGINT) AS score_sum
        FROM documents
    """
    d["multischema_routing"] = """
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS gen1_rows,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN length(text) ELSE 0 END)
                   AS BIGINT) AS chars_sum
        FROM documents GROUP BY lang
    """
    d["doc_fingerprints"] = """
        SELECT doc_id,
               CASE WHEN text IS NULL THEN -1 ELSE
               CAST(list_reduce(
                 list_prepend(CAST(0 AS HUGEINT),
                   list_transform(string_to_array(text, ''),
                                  c -> CAST(ascii(c) AS HUGEINT))),
                 (h, b) -> (h * 1000003 + b)
                           % CAST(2305843009213693951 AS HUGEINT))
               AS BIGINT) END AS fp
        FROM documents
    """
    # simhash_groups: md5 token hashes (low 8 bytes LE) + 64 unrolled
    # bit-vote aggregates; converted from rows-only in round 2
    _h = "(" + " + ".join(
        f"CAST(CAST(('0x' || substr(md5(t), {2*i+1}, 2)) AS BIGINT) AS HUGEINT)"
        f" * CAST({256**i} AS HUGEINT)" for i in range(8)) + ")"
    _bit_sums = ", ".join(
        f"sum(CAST((h // CAST({1 << b} AS HUGEINT)) %% 2 AS BIGINT)) AS o{b}"
        for b in range(64)).replace("%%", "%")
    _sig = " + ".join(
        f"(CASE WHEN 2 * o{b} >= n THEN CAST({1 << b} AS HUGEINT) ELSE 0 END)"
        for b in range(64))
    d["simhash_groups"] = f"""
        WITH aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id %% 20 = 0),
        toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM aug
          WHERE text IS NOT NULL AND text != ''),
        th AS (SELECT doc_id, {{_h}} AS h FROM toks),
        votes AS (SELECT doc_id, count(*) AS n, {{_bit_sums}}
                  FROM th GROUP BY doc_id),
        sig0 AS (SELECT doc_id, ({{_sig}}) AS u FROM votes),
        sigs AS (
          SELECT doc_id,
                 CAST(CASE WHEN u >= CAST(9223372036854775808 AS HUGEINT)
                      THEN u - CAST(18446744073709551616 AS HUGEINT) ELSE u END
                      AS BIGINT) AS simhash
          FROM sig0
          UNION ALL
          SELECT doc_id, 0 FROM aug WHERE text IS NULL OR text = '')
        SELECT simhash, CAST(count(*) AS BIGINT) AS cnt,
               CAST(min(doc_id) AS BIGINT) AS keeper
        FROM sigs GROUP BY simhash HAVING count(*) > 1
    """.replace("%%", "%").format(_h=_h, _bit_sums=_bit_sums, _sig=_sig)
    # ann_lsh_buckets: the hyperplane matrix is deterministic (seeded, no
    # wall clock), so it serializes into the SQL as literals and DuckDB
    # reproduces the exact sign-bit bucket ids (round-1 verdict item 9:
    # converted from rows-only to oracle-checked).
    import numpy as _np
    from dumpster.simsearch import hyperplanes as _hp
    _planes = _hp(64, 12, seed=42)
    _terms = []
    for _p in range(12):
        _lit = "[" + ", ".join(repr(float(x)) for x in _planes[_p]) + "]"
        _terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"{_lit}) >= 0 THEN {1 << _p} ELSE 0 END)")
    d["ann_lsh_buckets"] = f"""
        WITH b AS (SELECT vec_id, ({' + '.join(_terms)}) AS bucket
                   FROM embeddings)
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(min(vec_id) AS BIGINT) AS member_min
        FROM b GROUP BY bucket
    """
    # ivf_topk probes every cell (n_probe = n_cells in queries()), so the
    # exact brute-force top-k SQL is its oracle
    d["ivf_topk"] = d["ann_topk_cosine"]

    # round-5 ExactSubstr removal (same fixture as duplicate_spans)
    d["duplicate_span_removal"] = dedup.duplicate_span_removal_sql(
        _SPAN_FIXTURE_SQL, k=8)

    # --- round-5 consolidation: compose the merged-entry oracles from
    # their constituents' SQL, then drop the consumed keys so the dicts
    # stay aligned with queries() (driver 50-entry window, VERDICT r4 #1)
    def _using(a, b, key):
        return f"SELECT * FROM ({a}) __a JOIN ({b}) __b USING ({key})"

    d["ts_codec_residuals"] = _using(
        d.pop("for_residuals_ts"), d.pop("delta_ts"), "event_id")
    d["lang_dict_rle"] = _using(
        d.pop("dict_codes_lang"), d.pop("rle_runs_lang"), "lang")
    d["multimodal_meta_salted"] = _using(
        d.pop("multimodal_meta"),
        "SELECT doc_id AS id, bucket FROM ("
        + d.pop("salted_bucket_portable") + ")", "id")
    d["lang_quality_signals"] = _using(
        d.pop("lang_id"), d.pop("quality_scores"), "doc_id")
    d["pii_and_urls"] = _using(
        d.pop("redact_pii"), d.pop("canonical_urls"), "doc_id")
    d["doc_hash_signatures"] = _using(
        d.pop("minhash_signatures"), d.pop("doc_fingerprints"), "doc_id")
    d["contamination_repetition"] = _using(
        d.pop("contamination_overlap"), d.pop("repetition_signals"),
        "doc_id")
    d["dup_groups_exact_simhash"] = (
        "SELECT 'md5' AS method, text_md5 AS grp_key, cnt, keeper FROM ("
        + d.pop("exact_dup_groups") + ") UNION ALL "
        "SELECT 'simhash' AS method, CAST(simhash AS VARCHAR) AS grp_key,"
        " cnt, keeper FROM (" + d.pop("simhash_groups") + ")")
    d["topk_brute_vs_ivf"] = (
        "SELECT 'brute' AS method, * FROM ("
        + d.pop("ann_topk_cosine") + ") UNION ALL "
        "SELECT 'ivf' AS method, * FROM (" + d.pop("ivf_topk") + ")")
    d["ann_partition_assignments"] = (
        "SELECT 'lsh' AS method, bucket AS a, n_vectors AS b,"
        " member_min AS c, CAST(NULL AS DOUBLE) AS sim FROM ("
        + d.pop("ann_lsh_buckets") + ") UNION ALL "
        "SELECT 'ivf' AS method, vec_id AS a, cell AS b,"
        " CAST(NULL AS BIGINT) AS c, sim FROM ("
        + d.pop("ivf_cell_assignments") + ")")
    d["string_pushdown_scans"] = (
        "SELECT 'point' AS probe, * FROM ("
        + d.pop("str_point_lookup") + ") UNION ALL "
        "SELECT 'prefix' AS probe, * FROM (" + d.pop("url_prefix_scan") + ")")
    d["roundtrip_local_compact"] = (
        "SELECT 'local' AS mode, * FROM ("
        + d.pop("local_mode_roundtrip") + ") UNION ALL "
        "SELECT 'compact' AS mode, * FROM ("
        + d.pop("compact_stream_roundtrip") + ")")
    return d

"""Benchmark harness — driver contract: prints ONE JSON line.

Headline: encode the synthetic Common-Crawl-style pages table (FIXTURES F1,
rows = sf × 2M) through the codec engine, decode it back, and write the
reference-configuration Parquet (Snappy + dictionary, 256 MiB row group,
64 KiB page — RecordWriter.java:29-32) for the size comparison.  Plus a
set of representative operator queries on the driver-provided sf tables.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     DUMPSTER_BENCH_CACHE (default /tmp/dumpster_bench_cache).

The synthetic input is cached as parquet keyed by (rows, seed): generation
cost is excluded from timings; bytes are identical across parallelism
levels (synth.py is row-index-keyed), which is what makes the N-vs-4N
scaling comparison (bench/scaling.py) apples-to-apples.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

ROWS_PER_SF = 8_000_000  # sf0.1 → 800k rows ≈ 2.3 GB logical: buckets of
                         # ~6k rows amortize per-task/fixed costs the way
                         # multi-GB partitions would at the real 10^12 scale
N_BUCKETS = 128          # fixed across parallelism levels for scaling runs


def parse_sf(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cache = os.environ.get("DUMPSTER_BENCH_CACHE", "/tmp/dumpster_bench_cache")
    sf = parse_sf(sf_dir)
    rows = max(int(sf * ROWS_PER_SF), 1000)
    rows = int(os.environ.get("DUMPSTER_BENCH_ROWS", rows))
    skip_queries = os.environ.get("DUMPSTER_BENCH_SKIP_QUERIES") == "1"
    # minimal = headline encode+decode only (scaling runs: the N-level legs
    # don't need the reference write / local mode / pruned decode, which at
    # 1 core would dominate the invocation wall without informing the gate)
    minimal = os.environ.get("DUMPSTER_BENCH_MINIMAL") == "1"
    skip_queries = skip_queries or minimal

    from pyspark.sql import functions as F

    from dumpster.engine import decode_table, encode_summary, encode_table
    from dumpster.session import get_spark
    from dumpster.synth import materialize_pages
    import __spark_entry__ as entry

    # DUMPSTER_BENCH_WORKDIR isolates compute from the sandbox's single
    # shared virtio disk (a real cluster scales local disk per executor;
    # one 600 MB/s device does not).  Default to /dev/shm when it can hold
    # the shuffle + encoded output (~3× logical bytes); opt out with
    # DUMPSTER_BENCH_WORKDIR=/tmp/...
    workdir = os.environ.get("DUMPSTER_BENCH_WORKDIR")
    if workdir is None and os.path.isdir("/dev/shm"):
        free = shutil.disk_usage("/dev/shm").free
        if free > 3 * rows * 3000 + (1 << 30):
            workdir = "/dev/shm/dumpster_bench_work"
    extra = {}
    if workdir:
        os.makedirs(workdir, exist_ok=True)
        tempfile.tempdir = workdir
        extra["spark.local.dir"] = workdir

    os.makedirs(cache, exist_ok=True)
    spark = get_spark("dumpster-bench", cores=cpus, chunk_rows=8192,
                      extra=extra)
    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    pages_path = materialize_pages(spark, rows, cache, seed=42)
    synth_sec = time.perf_counter() - t0
    pages = spark.read.parquet(pages_path)
    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench"))
    from benchutil import logical_bytes_of
    logical_bytes = logical_bytes_of(pages)

    # --- JIT/worker warmup: tiny encode+decode on a throwaway dir so the
    # timed runs measure steady-state throughput, not first-job compilation
    warm = tempfile.mkdtemp(prefix="dumpster_bench_warm_")
    encode_table(pages.limit(2000), warm, url_col="url", mode="salted",
                 n_buckets=4, chunk_rows=1024)
    decode_table(spark, warm).count()
    shutil.rmtree(warm, ignore_errors=True)

    # --- headline: encode + decode + comparators, best of N INTERLEAVED ----
    # The sandbox is a shared-host VM: identical runs vary up to 10× when a
    # noisy neighbour saturates the host memory bus (pure-CPU spin loops are
    # unaffected; bandwidth-bound phases crawl).  Best-of-N isolates the
    # engine's steady-state number from host noise, and the REFERENCE
    # Parquet write + local-mode encode run inside the SAME trial rounds as
    # the salted encode so numerator and denominator of the headline ratio
    # see the same noise windows (round-1 verdict item 10: the single-trial
    # reference write made the ratio a coin flip).  All trial walls are
    # reported for transparency.
    trials = int(os.environ.get("DUMPSTER_BENCH_TRIALS", "3"))

    def settled(ts):
        return len(ts) >= 2 and sorted(ts)[1] <= 1.25 * sorted(ts)[0]

    enc_trials, dec_trials, local_trials, ref_trials = [], [], [], []
    out = None
    local_bytes = ref_bytes = None
    for t in range(trials):
        # early stop: two mutually-confirming trials for every measured
        # phase mean no noise window — more rounds add wall, not info
        if settled(enc_trials) and settled(dec_trials) \
                and (minimal or (settled(local_trials)
                                 and settled(ref_trials))):
            break
        if out is not None:
            shutil.rmtree(out, ignore_errors=True)
        out = tempfile.mkdtemp(prefix="dumpster_bench_enc_")
        t0 = time.perf_counter()
        man = encode_table(pages, out, url_col="url", mode="salted",
                           n_buckets=N_BUCKETS, salt_k=4, chunk_rows=65536)
        enc_trials.append(time.perf_counter() - t0)
        s = encode_summary(man)

        t0 = time.perf_counter()
        dec = decode_table(spark, out)
        dec_stats = dec.agg(F.count("*"),
                            F.sum(F.octet_length("text"))).collect()[0]
        dec_trials.append(time.perf_counter() - t0)
        if dec_stats[0] != rows:   # not assert: must survive python -O
            raise RuntimeError(f"decode rows {dec_stats[0]} != {rows}")

        if minimal:
            continue
        # zero-shuffle encode (mode='local'): the ingest-optimized path —
        # no exchange, bucket = input split (the reference's own
        # per-Kafka-partition layout).  Headline stays the salted path.
        local_out = tempfile.mkdtemp(prefix="dumpster_bench_encl_")
        t0 = time.perf_counter()
        man_l = encode_table(pages, local_out, url_col="url", mode="local",
                             chunk_rows=65536)
        local_trials.append(time.perf_counter() - t0)
        local_bytes = int(encode_summary(man_l)["encoded_bytes"])
        shutil.rmtree(local_out, ignore_errors=True)

        # reference sink: Parquet with the reference writer settings
        # (RecordWriter.java:29-32)
        ref_dir = tempfile.mkdtemp(prefix="dumpster_bench_ref_")
        t0 = time.perf_counter()
        (pages.write.mode("overwrite")
         .option("compression", "snappy")
         .option("parquet.enable.dictionary", "true")
         .option("parquet.block.size", str(256 * 1024 * 1024))
         .option("parquet.page.size", str(64 * 1024))
         .parquet(os.path.join(ref_dir, "p")))
        ref_trials.append(time.perf_counter() - t0)
        ref_bytes = sum(os.path.getsize(f) for f in
                        glob.glob(os.path.join(ref_dir, "p", "*.parquet")))
        shutil.rmtree(ref_dir, ignore_errors=True)
    timings["encode_pages"] = min(enc_trials)
    timings["decode_pages"] = min(dec_trials)
    if not minimal:
        timings["encode_pages_local"] = min(local_trials)
        timings["reference_parquet_write"] = min(ref_trials)

    # column-pruned decode: only `lang` is read AND decompressed — ranged
    # reads via the chunk footer index skip the html/text byte ranges on
    # disk entirely (the engine's analog of Parquet column-chunk I/O)
    if not minimal:
        t0 = time.perf_counter()
        (decode_table(spark, out, columns=["lang"])
         .groupBy("lang").count().collect())
        timings["decode_lang_column_only"] = time.perf_counter() - t0

    # structural-floor measurements: a NO-OP mapInArrow passthrough (no
    # codec, no output) over (a) the bare scan and (b) the salted shuffle.
    # These locate the Python-boundary + shuffle cost that bounds ANY
    # Python-codec engine on this input, independent of codec speed —
    # context for the encode_pages : reference_parquet_write ratio
    # (bench/BENCH.md "encode-wall anatomy").
    floor_scan = floor_shuffled = None
    if not minimal:
        import pyarrow as _pa
        from dumpster.pipeline import prep_for_encode

        def _passthru(batches):
            n = 0
            for b in batches:
                n += b.num_rows
            yield _pa.RecordBatch.from_pylist(
                [{"n": n}], schema=_pa.schema([("n", _pa.int64())]))

        for label, df in (("floor_scan_passthrough", pages),
                          ("floor_shuffled_passthrough",
                           prep_for_encode(pages, "url", N_BUCKETS, 4))):
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                df.mapInArrow(_passthru, "n long").count()
                w = time.perf_counter() - t0
                best = w if best is None else min(best, w)
            timings[label] = best
        floor_scan = timings["floor_scan_passthrough"]
        floor_shuffled = timings["floor_shuffled_passthrough"]

    # native sink front door (df.write.format("dumpster")): local-mode
    # semantics through Spark's V2 commit protocol — measured so the
    # idiomatic write path's overhead vs encode_table(mode="local")
    # (task-count difference + driver-side manifest publish at commit)
    # stays visible round over round
    if not minimal:
        from dumpster.datasource import register_dumpster_source
        register_dumpster_source(spark)
        best = None
        for _ in range(2):
            sink_root = tempfile.mkdtemp(prefix="dumpster_bench_sink_")
            t0 = time.perf_counter()
            (pages.write.format("dumpster")
             .option("chunk_rows", "65536")
             .mode("append").save(os.path.join(sink_root, "t")))
            w = time.perf_counter() - t0
            best = w if best is None else min(best, w)
            shutil.rmtree(sink_root, ignore_errors=True)
        timings["encode_pages_sink"] = best

        # HOST-GROUPED layout through the sink (VERDICT r3 next-round #3):
        # each input split is sorted by url host (no shuffle — splits are
        # byte-uniform, so there is no skew for the salt to break) and the
        # plain sink makes each write task one bucket, the same layout
        # as prep_for_encode_local.  Measured equivalence to the global
        # salted layout: encoded bytes differ by <0.01% at sf0.1 AND sf1 (r3:
        # 2,018,640,074 local vs 2,018,786,063 salted), i.e. host-major
        # runs WITHIN a split already deliver the full compression
        # locality — the full-row shuffle only buys global grouping,
        # whose no-op floor alone (floor_shuffled_passthrough) exceeds
        # 2x the reference writer on this host.  Removing the host sort
        # instead of the shuffle REGRESSES (measured 5.1 s vs 3.9 s at
        # sf0.1: unsorted buckets make the encoder buffer every bucket
        # per task), so this path keeps the sort and drops the shuffle.
        from dumpster.pipeline import host_of
        best = None
        sink_local_bytes = None
        for _ in range(2):
            sink_root = tempfile.mkdtemp(prefix="dumpster_bench_sinks_")
            tdir = os.path.join(sink_root, "t")
            t0 = time.perf_counter()
            (pages.withColumn("__host", host_of("url"))
             .sortWithinPartitions("__host").drop("__host")
             .write.format("dumpster")
             .option("chunk_rows", "65536")
             .mode("append").save(tdir))
            w = time.perf_counter() - t0
            best = w if best is None else min(best, w)
            if sink_local_bytes is None:
                from dumpster.engine import read_manifest
                sink_local_bytes = int(
                    read_manifest(spark, tdir)
                    .agg(F.sum("encoded_bytes")).collect()[0][0])
            shutil.rmtree(sink_root, ignore_errors=True)
        timings["encode_pages_sink_local"] = best
    enc_bytes = int(s["encoded_bytes"])

    # --- representative operator queries on the driver sf tables ------------
    # best-of-2, same treatment as the headline encode/decode trials: a
    # single cold run mixes codegen compilation + host-noise into the
    # recorded number (bench/BENCH.md "host noise")
    # constituent q_* functions are called directly (not via queries()):
    # the round-5 consolidation merged several under combined keys, but
    # the bench series must stay name-comparable across rounds
    for name in [] if skip_queries else [
                 "ann_topk_cosine", "minhash_lsh_pairs", "lang_id",
                 "quality_scores", "hour_partition_events",
                 "dedup_replays_events"]:
        fn = getattr(entry, f"q_{name}")
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            w = time.perf_counter() - t0
            best = w if best is None else min(best, w)
        timings[name] = best

    # `value` keeps its historical definition (sum of EVERY timed key,
    # diagnostics included) so the BENCH_r01..r05 series stays
    # self-consistent — but that sum grows whenever a diagnostic is
    # added, so `headline_wall_sec` carries the clean product number:
    # the engine's own encode + decode walls only (round-5 review
    # finding)
    total = sum(timings.values())
    headline = timings["encode_pages"] + timings.get("decode_pages", 0.0)
    encode_gbps = logical_bytes / timings["encode_pages"] / 1e9
    result = {
        "metric": "encode+decode+queries wall",
        "value": round(total, 3),
        "headline_wall_sec": round(headline, 3),
        "unit": "sec",
        "sf": sf,
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "rows": rows,
        "cpus": cpus,
        "logical_bytes": int(logical_bytes),
        "encode_gb_per_sec": round(encode_gbps, 4),
        "encode_docs_per_sec": round(rows / timings["encode_pages"], 1),
        "decode_gb_per_sec": round(
            logical_bytes / timings["decode_pages"] / 1e9, 4),
        "encoded_bytes": enc_bytes,
        "compression_ratio": round(logical_bytes / enc_bytes, 4),
        "synth_sec_excluded": round(synth_sec, 3),
        "encode_trials_sec": [round(t, 3) for t in enc_trials],
        "decode_trials_sec": [round(t, 3) for t in dec_trials],
        "local_trials_sec": [round(t, 3) for t in local_trials],
        "reference_write_trials_sec": [round(t, 3) for t in ref_trials],
    }
    if not minimal:
        result["encode_local_gb_per_sec"] = round(
            logical_bytes / timings["encode_pages_local"] / 1e9, 4)
        result["encoded_bytes_local_mode"] = local_bytes
        result["reference_parquet_bytes"] = ref_bytes
        result["size_ratio_vs_reference"] = round(enc_bytes / ref_bytes, 4)
        result["encoded_bytes_sink_local"] = sink_local_bytes
        result["sink_local_size_ratio_vs_reference"] = round(
            sink_local_bytes / ref_bytes, 4)
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

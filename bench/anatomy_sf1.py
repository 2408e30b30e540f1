"""Same-window sf1 encode-wall anatomy (VERDICT r2 item 1).

Round-2 left the sf1 salted wall unreconciled: the 72.2 s salted trial and
the 30.2 s post-shuffle no-op floor came from DIFFERENT invocations (noise
windows on this shared host differ by up to 7x), so ~42 s were
unattributed.  This runner interleaves every component inside ONE Spark
session, several rounds, so each round's measurements share a noise
window:

  scan_floor      — no-op mapInArrow over the bare parquet scan
  shuffle_floor   — no-op mapInArrow after the salted repartition+sort
  ref_write       — reference-settings Parquet write (RecordWriter.java:29-32)
  salted_encode   — full engine encode, mode="salted"
  local_encode    — full engine encode, mode="local" (zero shuffle)

Per-round attribution for the salted path:
  python+scan boundary = scan_floor
  shuffle              = shuffle_floor - scan_floor
  codec+write          = salted_encode - shuffle_floor

Usage: python bench/anatomy_sf1.py [rows] [rounds]  (defaults 8_000_000, 3)
Writes bench/anatomy_sf1_latest.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
ROUNDS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
N_BUCKETS = 128
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    import pyarrow as pa
    from pyspark.sql import functions as F

    from dumpster.engine import encode_summary, encode_table
    from dumpster.pipeline import prep_for_encode
    from dumpster.session import get_spark
    from dumpster.synth import materialize_pages

    workdir = "/dev/shm/dumpster_anatomy"
    os.makedirs(workdir, exist_ok=True)
    tempfile.tempdir = workdir
    spark = get_spark("dumpster-anatomy", cores=CPUS, chunk_rows=8192,
                      extra={"spark.local.dir": workdir})
    cache = os.environ.get("DUMPSTER_BENCH_CACHE", "/tmp/dumpster_bench_cache")
    os.makedirs(cache, exist_ok=True)
    pages_path = materialize_pages(spark, ROWS, cache, seed=42)
    pages = spark.read.parquet(pages_path)
    logical_bytes = pages.select(
        (F.octet_length("url") + F.octet_length("text")
         + F.octet_length("lang") + F.coalesce(F.octet_length("html"), F.lit(0))
         + F.lit(8)).alias("b")).agg(F.sum("b")).collect()[0][0]

    def passthru(batches):
        n = 0
        for b in batches:
            n += b.num_rows
        yield pa.RecordBatch.from_pylist(
            [{"n": n}], schema=pa.schema([("n", pa.int64())]))

    # warmup
    warm = tempfile.mkdtemp(prefix="anat_warm_")
    encode_table(pages.limit(2000), warm, url_col="url", mode="salted",
                 n_buckets=4,
                 chunk_rows=1024, table_id="warmup")
    shutil.rmtree(warm, ignore_errors=True)

    trials: dict[str, list] = {k: [] for k in
                               ["scan_floor", "shuffle_floor", "ref_write",
                                "salted_encode", "local_encode",
                                "sink_local", "codec_cpu_sum"]}
    sink_local_bytes = None
    enc_bytes = ref_bytes = None
    # Host noise shifts within a single round (identical components vary
    # up to 2-7× minutes apart), so the floor→salted RATIO is only
    # meaningful when the two run back-to-back: each round measures the
    # PAIR adjacently and the ratio is computed per pair, never across
    # rounds.  scan/ref/local are context, measured once per round.
    pair_ratios = []
    for rnd in range(ROUNDS):
        t0 = time.perf_counter()
        pages.mapInArrow(passthru, "n long").count()
        trials["scan_floor"].append(time.perf_counter() - t0)

        ref_dir = tempfile.mkdtemp(prefix="anat_ref_")
        t0 = time.perf_counter()
        (pages.write.mode("overwrite")
         .option("compression", "snappy")
         .option("parquet.enable.dictionary", "true")
         .option("parquet.block.size", str(256 * 1024 * 1024))
         .option("parquet.page.size", str(64 * 1024))
         .parquet(os.path.join(ref_dir, "p")))
        trials["ref_write"].append(time.perf_counter() - t0)
        import glob as g
        ref_bytes = sum(os.path.getsize(f) for f in
                        g.glob(os.path.join(ref_dir, "p", "*.parquet")))
        shutil.rmtree(ref_dir, ignore_errors=True)

        # the paired measurement: no-op post-shuffle floor, then the full
        # salted encode, adjacent in time
        t0 = time.perf_counter()
        prep_for_encode(pages, "url", N_BUCKETS, 4) \
            .mapInArrow(passthru, "n long").count()
        floor = time.perf_counter() - t0
        trials["shuffle_floor"].append(floor)

        out = tempfile.mkdtemp(prefix="anat_enc_")
        t0 = time.perf_counter()
        man = encode_table(pages, out, url_col="url", mode="salted",
                           n_buckets=N_BUCKETS,
                           salt_k=4, chunk_rows=65536, table_id="anat_pages")
        salted = time.perf_counter() - t0
        trials["salted_encode"].append(salted)
        pair_ratios.append(salted / floor)
        summ = encode_summary(man)
        enc_bytes = int(summ["encoded_bytes"])
        # task-side codec CPU, summed across chunks, from the manifest's
        # per-chunk lineage (encode_ms) — the direct attribution of how
        # much of the wall is codec work vs boundary/shuffle/write
        trials["codec_cpu_sum"].append(float(summ["encode_cpu_ms"]) / 1e3)
        shutil.rmtree(out, ignore_errors=True)

        out_l = tempfile.mkdtemp(prefix="anat_encl_")
        t0 = time.perf_counter()
        encode_table(pages, out_l, url_col="url", mode="local",
                     chunk_rows=65536, table_id="anat_pages_l")
        trials["local_encode"].append(time.perf_counter() - t0)
        shutil.rmtree(out_l, ignore_errors=True)

        # host-grouped layout via the native sink, zero shuffle (r3
        # next-round #3): each split is host-sorted in place and each V2
        # write task is one bucket — the ≤2×-bar candidate for the
        # host-grouped write at sf1
        from dumpster.pipeline import host_of
        from dumpster.datasource import register_dumpster_source
        from dumpster.engine import read_manifest
        register_dumpster_source(spark)
        out_s = tempfile.mkdtemp(prefix="anat_sink_")
        tdir = os.path.join(out_s, "t")
        t0 = time.perf_counter()
        (pages.withColumn("__host", host_of("url"))
         .sortWithinPartitions("__host").drop("__host")
         .write.format("dumpster")
         .option("chunk_rows", "65536")
         .option("table_id", "anat_sink_local")
         .mode("append").save(tdir))
        trials["sink_local"].append(time.perf_counter() - t0)
        if sink_local_bytes is None:
            sink_local_bytes = int(
                read_manifest(spark, tdir)
                .agg(F.sum("encoded_bytes")).collect()[0][0])
        shutil.rmtree(out_s, ignore_errors=True)
        print(json.dumps({"round": rnd, "pair_ratio": round(pair_ratios[-1], 3),
                          **{k: round(v[-1], 2) for k, v in trials.items()}}),
              file=sys.stderr, flush=True)

    best = {k: min(v) for k, v in trials.items()}
    ratios = sorted(pair_ratios)
    result = {
        "metric": "sf1 encode anatomy (adjacent-pair interleaved)",
        "rows": ROWS, "rounds": ROUNDS, "cpus": CPUS,
        "nproc": os.cpu_count(), "measured_at": time.time(),
        "logical_bytes": int(logical_bytes),
        "trials": {k: [round(x, 2) for x in v] for k, v in trials.items()},
        "best": {k: round(v, 2) for k, v in best.items()},
        "pair_ratios_salted_over_floor": [round(r, 3) for r in pair_ratios],
        "salted_over_own_shuffle_floor": round(
            ratios[len(ratios) // 2], 3),  # median of adjacent pairs
        "salted_over_floor_best_pair": round(ratios[0], 3),
        "codec_cpu_ideal_wall": round(best["codec_cpu_sum"] / CPUS, 2),
        "encode_gb_per_sec": round(
            logical_bytes / best["salted_encode"] / 1e9, 4),
        "encode_local_gb_per_sec": round(
            logical_bytes / best["local_encode"] / 1e9, 4),
        "encoded_bytes": enc_bytes,
        "reference_parquet_bytes": ref_bytes,
        "size_ratio_vs_reference": round(enc_bytes / ref_bytes, 4),
        "encode_sink_local_gb_per_sec": round(
            logical_bytes / best["sink_local"] / 1e9, 4),
        "encoded_bytes_sink_local": sink_local_bytes,
        "sink_local_size_ratio_vs_reference": round(
            sink_local_bytes / ref_bytes, 4),
    }
    spark.stop()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "anatomy_sf1_latest.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

"""Decode-scaling anatomy (round-3 verdict item 8).

The N→4N decode efficiency (bench/scaling.py) sits below the encode's
0.977.  This probe decomposes the decode wall at ONE core count into:

  * serial codec CPU   — every chunk file decoded back-to-back in this
    process (per-file and per-column walls recorded), i.e. the work that
    parallelises perfectly across files;
  * plan fixed cost    — the decode job's non-codec stages, measured by
    running the IDENTICAL plan with the file-decode step replaced by a
    no-op (manifest scan → prune/distinct exchange → mapInArrow that
    opens nothing → agg), i.e. the part that does NOT shrink with cores;
  * observed wall      — the real decode job (bench.py's exact shape:
    decode_table + count/sum agg).

With T(c) = fixed + serial/c, the measured (fixed, serial) pair predicts
the N→4N efficiency; comparing prediction to the observed pair attributes
the efficiency loss (Amdahl on the plan's fixed stages vs codec skew).

Usage:  python bench/decode_anatomy.py [cpus] [sf_dir]
Prints one JSON line; run at two core counts for the scaling story.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS_PER_SF = 8_000_000
N_BUCKETS = 128


def main():
    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    rows = max(int(sf * ROWS_PER_SF), 1000)

    import pyarrow as pa
    from pyspark.sql import functions as F

    from dumpster.chunk import decode_chunk_file
    from dumpster.engine import decode_table, encode_table, read_manifest
    from dumpster.session import get_spark
    from dumpster.synth import materialize_pages

    workdir = "/dev/shm/dumpster_decode_anat" if os.path.isdir("/dev/shm") \
        else None
    extra = {}
    if workdir:
        os.makedirs(workdir, exist_ok=True)
        tempfile.tempdir = workdir
        extra["spark.local.dir"] = workdir

    spark = get_spark("decode-anatomy", cores=cpus, chunk_rows=8192,
                      extra=extra)
    cache = os.environ.get("DUMPSTER_BENCH_CACHE", "/tmp/dumpster_bench_cache")
    os.makedirs(cache, exist_ok=True)
    pages = spark.read.parquet(materialize_pages(spark, rows, cache, seed=42))

    out = tempfile.mkdtemp(prefix="dec_anat_")
    encode_table(pages, out, url_col="url", mode="salted",
                 n_buckets=N_BUCKETS, salt_k=4,
                 chunk_rows=65536, table_id="dec_anat",
                 num_partitions=N_BUCKETS)

    # warmup (JIT + python workers), same as bench.py
    decode_table(spark, out).count()

    trials = int(os.environ.get("DUMPSTER_BENCH_TRIALS", "3"))

    # (a) observed decode wall — bench.py's exact decode shape
    obs = []
    for _ in range(trials):
        t0 = time.perf_counter()
        decode_table(spark, out).agg(
            F.count("*"), F.sum(F.octet_length("text"))).collect()
        obs.append(time.perf_counter() - t0)

    # (b) plan fixed cost — identical stages, no file opened.  Mirrors
    # decode_table's scan exactly: driver-side pyarrow listing of the
    # manifest → exchange-free spark.range feed (indices; the file list
    # rides the closure) → mapInArrow that opens nothing → agg.
    manifest = read_manifest(spark, out)
    par = max(spark.sparkContext.defaultParallelism, 1)

    def noop(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array([b.num_rows], type=pa.int64())], names=["n"])

    import pyarrow.dataset as _ds
    mdir = os.path.join(out, "manifest")
    fixed = []
    for _ in range(trials):
        t0 = time.perf_counter()
        mfiles = [os.path.join(mdir, f) for f in sorted(os.listdir(mdir))
                  if f.endswith(".parquet")]
        kept = sorted(set(_ds.dataset(mfiles).to_table(
            columns=["file"]).column(0).to_pylist()))
        (spark.range(0, len(kept),
                     numPartitions=max(1, min(par * 2, len(kept))))
         .mapInArrow(noop, "n long").agg(F.sum("n")).collect())
        fixed.append(time.perf_counter() - t0)

    # (c) serial codec CPU — every chunk decoded in-process, per column
    files = sorted(r["file"] for r in
                   manifest.select("file").distinct().collect())
    colnames = [f.name for f in
                decode_chunk_file(files[0]).schema]
    per_col = {c: 0.0 for c in colnames}
    per_file = []
    t_serial0 = time.perf_counter()
    for fp in files:
        t0 = time.perf_counter()
        decode_chunk_file(fp)
        per_file.append(time.perf_counter() - t0)
    serial_full = time.perf_counter() - t_serial0
    for c in colnames:                      # per-column attribution
        t0 = time.perf_counter()
        for fp in files:
            decode_chunk_file(fp, columns=[c])
        per_col[c] = time.perf_counter() - t0

    obs_b, fix_b = min(obs), min(fixed)
    shutil.rmtree(out, ignore_errors=True)
    logical = 2.33e9 * sf / 0.1
    result = {
        "metric": "decode anatomy", "cpus": cpus, "rows": rows,
        "n_files": len(files), "trials": trials,
        "observed_wall_s": [round(x, 3) for x in obs],
        "plan_fixed_s": [round(x, 3) for x in fixed],
        "serial_codec_s": round(serial_full, 3),
        "per_file_max_s": round(max(per_file), 4),
        "per_file_mean_s": round(sum(per_file) / len(per_file), 4),
        "per_column_serial_s": {c: round(v, 3) for c, v in per_col.items()},
        "best": {"observed": round(obs_b, 3), "fixed": round(fix_b, 3),
                 "codec_share": round(obs_b - fix_b, 3)},
        "predicted_wall_s": round(fix_b + serial_full / cpus, 3),
        "decode_gb_per_sec": round(logical / obs_b / 1e9, 3),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()

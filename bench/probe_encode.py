"""Probe: encode-only timing + per-chunk CPU breakdown at one core count.

Usage: python bench/probe_encode.py <cores> [rows] [n_buckets] [chunk_rows]
Prints one JSON line with wall, sum of per-chunk encode_ms, task spread.
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cores = int(sys.argv[1])
rows = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 128
chunk_rows = int(sys.argv[4]) if len(sys.argv) > 4 else 65536

from pyspark.sql import functions as F

from dumpster.engine import encode_summary, encode_table
from dumpster.session import get_spark
from dumpster.synth import materialize_pages

cache = "/tmp/dumpster_bench_cache"
spark = get_spark("probe", cores=cores, chunk_rows=8192)
pages_path = materialize_pages(spark, rows, cache, seed=42)
pages = spark.read.parquet(pages_path)

# warmup
warm = tempfile.mkdtemp(prefix="probe_warm_")
encode_table(pages.limit(2000), warm, url_col="url", mode="salted",
             n_buckets=4, chunk_rows=1024)
shutil.rmtree(warm, ignore_errors=True)

out = tempfile.mkdtemp(prefix="probe_enc_")
t0 = time.perf_counter()
man = encode_table(pages, out, url_col="url", mode="salted",
                   n_buckets=n_buckets,
                   salt_k=4, chunk_rows=chunk_rows)
wall = time.perf_counter() - t0
s = encode_summary(man)
per_part = (man.groupBy("partition_id")
            .agg(F.sum("encode_ms").alias("ms"), F.count("*").alias("chunks"))
            .collect())
ms = sorted(r["ms"] for r in per_part)
print(json.dumps({
    "cores": cores, "rows": rows, "wall_s": round(wall, 2),
    "encode_cpu_s": round(s["encode_cpu_ms"] / 1e3, 2),
    "chunks": int(s["chunks"]),
    "n_tasks": len(per_part),
    "task_ms_min": round(ms[0], 1), "task_ms_max": round(ms[-1], 1),
}))
shutil.rmtree(out, ignore_errors=True)
spark.stop()

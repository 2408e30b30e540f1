"""sf1 decode-scaling pair (round-4 verdict item 4).

At sf0.1 the decode N=1→4N=4 efficiency is bounded at ~0.78 by a
~0.6 s fixed Python-stage floor (bench/decode_anatomy.py) — the floor
is scheduler/worker latency, not engine work, and it amortizes away at
real partition sizes.  This runner produces the evidence at a scale
where it does: sf1 (8 M rows, ~23 GB logical), where the floor is
< 2 % of the decode wall.

Protocol mirrors bench/scaling.py: the SAME encoded store (built once,
at full cores, into /dev/shm) is decoded in FRESH processes/JVMs at
N=1 and 4N=4 cores; each leg does a tiny warmup encode+decode
(bench.py's exact warmup shape — JIT + Python-worker spin-up, not a
full pass over the data), then best-of-K trials of bench.py's exact
decode shape: decode_table(store).agg(count(*), sum(octet_length(text))).

    decode scaling efficiency = (GB/s @4 / GB/s @1) / 4

Usage:
    python bench/decode_scaling_sf1.py [rows] [--trials K]
    python bench/decode_scaling_sf1.py --leg <cpus> <store> <logical_bytes>

The orchestrator merges a "decode_sf1" object into
bench/scaling_results.json and prints one compact JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_BUCKETS = 128
CHUNK_ROWS = 65536


def _shm_dir(name: str, need_bytes: int = 0) -> str:
    """/dev/shm when it exists AND can hold ``need_bytes`` (bench.py's
    guard — round-5 review finding: an unconditional /dev/shm placement
    ENOSPC'd mid-run on hosts whose tmpfs can't hold the ~23 GB sf1
    parquet cache), else the regular temp dir."""
    base = tempfile.gettempdir()
    if os.path.isdir("/dev/shm"):
        try:
            import shutil as _sh
            if _sh.disk_usage("/dev/shm").free > need_bytes + (1 << 30):
                base = "/dev/shm"
        except OSError:
            pass
    d = os.path.join(base, name)
    os.makedirs(d, exist_ok=True)
    return d


def leg(cpus: int, store: str, logical_bytes: int, trials: int) -> None:
    """One decode leg in a fresh JVM; prints a single JSON line."""
    import pyarrow  # noqa: F401  (fail fast before Spark spins up)
    from pyspark.sql import functions as F

    from dumpster.engine import decode_table, encode_table
    from dumpster.session import get_spark
    from dumpster.synth import synth_pages

    work = _shm_dir(f"dumpster_dec_sf1_work_{cpus}")
    tempfile.tempdir = work
    spark = get_spark("decode-sf1", cores=cpus, chunk_rows=8192,
                      extra={"spark.local.dir": work})

    # warmup: bench.py's throwaway tiny encode+decode (JIT + workers)
    warm = tempfile.mkdtemp(prefix="dec_sf1_warm_")
    encode_table(synth_pages(spark, 2000, seed=7), warm, url_col="url",
                 mode="salted", n_buckets=4, chunk_rows=1024,
                 table_id="warmup")
    decode_table(spark, warm).count()
    shutil.rmtree(warm, ignore_errors=True)

    walls = []
    for _ in range(trials):
        t0 = time.perf_counter()
        decode_table(spark, store).agg(
            F.count("*").alias("n"),
            F.sum(F.octet_length("text")).alias("b")).collect()
        walls.append(round(time.perf_counter() - t0, 3))
        # two mutually-confirming trials = no noise window; stop early
        if len(walls) >= 2 and sorted(walls)[1] <= 1.25 * sorted(walls)[0]:
            break
    best = min(walls)
    print(json.dumps({
        "cpus": cpus, "decode_wall_s": best,
        "decode_trials_sec": walls,
        "decode_gb_per_sec": round(logical_bytes / best / 1e9, 4),
    }))
    spark.stop()


def main() -> None:
    if "--leg" in sys.argv:
        i = sys.argv.index("--leg")
        leg(int(sys.argv[i + 1]), sys.argv[i + 2], int(sys.argv[i + 3]),
            int(os.environ.get("DUMPSTER_BENCH_TRIALS", "3")))
        return

    rows = int(sys.argv[1]) if len(sys.argv) > 1 and not \
        sys.argv[1].startswith("-") else 8_000_000
    trials = 3
    if "--trials" in sys.argv:
        trials = int(sys.argv[sys.argv.index("--trials") + 1])

    from pyspark.sql import functions as F

    from dumpster.engine import encode_summary, encode_table, read_manifest
    from dumpster.session import get_spark
    from dumpster.synth import materialize_pages

    need = rows * 3000 * 3        # parquet cache + store + shuffle slack
    work = _shm_dir("dumpster_dec_sf1_work_prep", need)
    tempfile.tempdir = work
    cache = _shm_dir("dumpster_dec_sf1_cache", need)
    store = os.path.join(_shm_dir("dumpster_dec_sf1", need), "store")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    spark = get_spark("decode-sf1-prep", cores=cpus, chunk_rows=8192,
                      extra={"spark.local.dir": work})
    from benchutil import logical_bytes_of
    pages = spark.read.parquet(materialize_pages(spark, rows, cache, seed=42))
    logical_bytes = logical_bytes_of(pages)
    # skip the (expensive) encode only when the cached store is COMPLETE
    # for this run's row count — a manifest dir alone also exists for a
    # store whose encode was interrupted, or one built for a different
    # `rows` argument, and benchmarking either silently corrupts the
    # recorded throughput/efficiency numbers
    def _store_rows() -> int:
        try:
            return int(encode_summary(read_manifest(spark, store))["rows"])
        except Exception:
            return -1

    if _store_rows() != rows:
        shutil.rmtree(store, ignore_errors=True)
        t0 = time.perf_counter()
        encode_table(pages, store, url_col="url", mode="salted",
                     n_buckets=N_BUCKETS,
                     salt_k=4, chunk_rows=CHUNK_ROWS, table_id="dec_sf1",
                     num_partitions=N_BUCKETS)
        print(f"encoded sf1 store in {time.perf_counter() - t0:.1f}s",
              file=sys.stderr)
        assert _store_rows() == rows, "encode produced a partial store"
    encoded_bytes = int(encode_summary(read_manifest(spark, store))
                        ["encoded_bytes"])
    spark.stop()

    legs = {}
    for c in (1, 4):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--leg", str(c),
             store, str(logical_bytes)],
            env=dict(os.environ, DUMPSTER_BENCH_TRIALS=str(trials)),
            capture_output=True, text=True, check=True)
        from benchutil import last_json_line
        legs[c] = last_json_line(out.stdout)
        print(f"local[{c}]: {legs[c]['decode_gb_per_sec']} GB/s "
              f"({legs[c]['decode_wall_s']}s) trials="
              f"{legs[c]['decode_trials_sec']}", file=sys.stderr)

    eff = round((legs[4]["decode_gb_per_sec"]
                 / legs[1]["decode_gb_per_sec"]) / 4, 4)
    rec = {
        "rows": rows, "logical_bytes": logical_bytes,
        "encoded_bytes": encoded_bytes,
        "local1": legs[1], "local4": legs[4],
        "decode_scaling_efficiency": eff,
    }
    from benchutil import merge_results
    merge_results(os.path.join(REPO, "bench", "scaling_results.json"),
                  {"decode_sf1": rec})
    print(json.dumps({"decode_sf1_scaling_efficiency": eff,
                      "gb_per_sec_1": legs[1]["decode_gb_per_sec"],
                      "gb_per_sec_4": legs[4]["decode_gb_per_sec"]}))


if __name__ == "__main__":
    main()

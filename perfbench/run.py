"""The repo benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 5 --trace 0

Run it from the repository root.  It starts Spark on ``local[nproc]``,
generates the workload's input from the seed, then runs cycles of

    encode (front door) -> reference Parquet write -> full read + digest
    -> the same digest over the reference -> the seeded selective query
    mix, each query followed by the same query over the reference

with one client, until ``--seconds`` have passed (a started cycle always
completes, so every store written is also read back and checked).  An
untimed warm-up cycle on an eighth of the rows comes first.  Each
dumpster operation is followed by the same operation on the reference
Parquet, and the gated metrics are the ratios of the two walls.

Every answer is checked: the full read's order-independent digest of
every column against the digest of the reference (Spark's lossless
Parquet copy of the source), row counts against the source, and each
query's answer against a pyarrow oracle over the source parquet.  A
mismatch, an exception or a failed Spark task counts in ``failed``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Earlier lines
are a human-readable report.  The traced run also writes its spans, the
per-layer self-time table and the tracing overhead to
``.perfbench_out/trace_<workload>_s<seed>.json``.

Environment fixed by the benchmark, the same on both sides of every
comparison: Spark ``local[nproc]``, a 3 GiB JVM heap, the work
directory ``.perfbench_work/`` under the repository root (Spark local
dirs and temp files too), and the library's default flush policy: the
store's ``fs.RenameFS`` fsyncs every chunk and its directory, while the
reference Parquet write goes through Spark's committer without fsync.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
_MB = 1e6


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("pages", "tabular"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="input rows (default: the workload's size)")
    ap.add_argument("--corrupt", action="store_true",
                    help="flip one byte in one chunk file of every store "
                         "before it is read (self-check of the checks)")
    return ap.parse_args(argv)


def provenance() -> dict:
    """Host, time and code identity stamped on every result."""
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "dumpster")
    for base, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    src.update(f.encode() + fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None     # a plain checkout: the source digest identifies it
    return {"nproc": len(os.sched_getaffinity(0)),
            "measured_at": dt.datetime.now(dt.timezone.utc)
            .isoformat(timespec="seconds"),
            "git_commit": commit, "dumpster_sha256": src.hexdigest()[:16]}


class RssSampler:
    """Largest RSS of any Spark Python worker, sampled from /proc."""

    def __init__(self, jvm_pid: int, period: float = 0.1):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _workers(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1]
                                             .split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        out = []
        for pid in parent:
            p, hops = parent.get(pid), 0
            while p and p != self.jvm_pid and hops < 8:
                p, hops = parent.get(p), hops + 1
            if p == self.jvm_pid:
                out.append(pid)
        return out

    def _loop(self):
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:
                pids = self._workers()
            n += 1
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        if b"pyspark" not in f.read():
                            continue
                    with open(f"/proc/{pid}/statm") as f:
                        rss = int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    continue
                self.peak = max(self.peak, rss)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label; the maximum when the run holds too few samples for a
    percentile at or above the median."""
    s = sorted(samples)
    n = len(s)
    k = n - 11
    if k >= (n - 1) / 2:
        return s[k], f"p{100 * (k + 1) // n} of {n}"
    return s[-1], f"max of {n} (too few for a tail percentile)"


class Run:
    """The state of one benchmark run: what it attempted, what failed,
    and the wall of every operation by kind."""

    def __init__(self, args, wl, spark, tr, work: str):
        self.args, self.wl, self.spark, self.tr = args, wl, spark, tr
        self.work = work
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.warm_encode = None
        self.phases: dict[str, float] = {}

    def op(self, kind: str, span: str, fn, timed: bool):
        """Run one checked operation inside a span named after the layer
        it calls; returns (ok, result, wall)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.span(span):
                out = fn()
        except Exception as exc:  # a failed operation is a result
            self.failures.append(f"{kind}: {type(exc).__name__}: "
                                 f"{str(exc).strip()[:300]}")
            return False, None, None
        wall = time.perf_counter() - t0
        self.samples.setdefault(kind if timed else f"warmup.{kind}",
                                []).append(wall)
        return True, out, wall

    def check(self, kind: str, got, want) -> bool:
        if got != want:
            self.failures.append(f"{kind}: answer {got!r} != oracle {want!r}")
            return False
        return True


def corrupt_one_chunk(store: str, seed: int) -> None:
    from perfbench.workloads import chunk_files
    files = chunk_files(store)
    path = random.Random(seed).choice(files)
    with open(path, "r+b") as f:
        size = os.fstat(f.fileno()).st_size
        f.seek(size // 2)
        b = f.read(1)
        f.seek(size // 2)
        f.write(bytes([b[0] ^ 0xFF]))


def warm_up(run: Run, src_df, queries):
    """One untimed cycle on an eighth of the rows, so that JVM code paths,
    Python workers and the DataSource planner are warm before timing (the
    first cycle of a fresh session was 1.5-3x slower than the rest): the
    encode and the reference write, both full reads, and the first query
    of each front door (the reference side of a query is warm after the
    reference full read).  Its answers are not compared (they
    cover a slice); an operation that raises still counts as failed.
    Returns the encode wall."""
    from perfbench.workloads import digest_row, write_reference
    wl, spark = run.wl, run.spark
    first = src_df.columns[0]
    part = src_df.filter(F.pmod(F.xxhash64(first), F.lit(8)) == 0)
    store = os.path.join(run.work, "warmup")
    ref = os.path.join(run.work, "warmup_ref")
    ok, _, wall = run.op("encode", wl.encode_span,
                         lambda: wl.encode(spark, part, store), False)
    ref_ok, _, _ = run.op("ref_write", "ref.parquet_write",
                          lambda: write_reference(part, ref), False)
    if ok:
        run.op("decode", wl.read_span,
               lambda: digest_row(wl.full_read(spark, store)), False)
    if ref_ok:
        run.op("ref_read", "ref.parquet_read",
               lambda: digest_row(spark.read.parquet(ref)), False)
    # one query per front door, preferring one with pushed filters (the
    # DataSource's filter pushdown has its own cold start)
    firsts = {}
    for q in sorted(queries, key=lambda q: not q.filters):
        firsts.setdefault(q.layer, q)
    for q in firsts.values() if ok else ():
        run.op("query", f"{q.layer}.query.{q.kind}",
               lambda: q.run(spark, store), False)
    shutil.rmtree(store, ignore_errors=True)
    shutil.rmtree(ref, ignore_errors=True)
    return wall


def cycle(run: Run, c: int, src_df, queries, n_rows: int):
    """One timed closed-loop cycle.  The encode and the full read are each
    bracketed by the same operation on the Snappy+dictionary reference
    Parquet, run just before and just after it, and each query is followed
    by the same query over the reference.  A gated ratio divides dumpster
    walls by reference walls measured seconds apart; for the bracketed
    pairs it takes the mean of the two reference walls, which halves the
    jitter of these sub-second operations and cancels a linear drift.
    Returns the store it wrote, or None when the encode failed."""
    from perfbench.workloads import digest_row, tree_bytes, write_reference
    wl, spark, tr = run.wl, run.spark, run.tr
    store = os.path.join(run.work, f"store{c}")
    refs = [os.path.join(run.work, f"ref{c}{x}") for x in "ab"]

    pairs = []      # (dumpster wall, reference wall) per operation kind

    def ratio(name, wall, ref_wall):
        if wall is not None and ref_wall is not None:
            run.samples.setdefault(name, []).append(wall / ref_wall)
            pairs.append((wall, ref_wall))

    def mean(walls):
        return None if None in walls else statistics.mean(walls)

    _, _, w_a = run.op("ref_write", "ref.parquet_write",
                       lambda: write_reference(src_df, refs[0]), True)
    ok, _, enc = run.op("encode", wl.encode_span,
                        lambda: wl.encode(spark, src_df, store), True)
    ref_ok, _, w_b = run.op("ref_write", "ref.parquet_write",
                            lambda: write_reference(src_df, refs[1]), True)
    shutil.rmtree(refs[0], ignore_errors=True)
    ref = refs[1]
    if not ok:
        shutil.rmtree(ref, ignore_errors=True)
        return None
    ratio("encode_vs_ref", enc, mean([w_a, w_b]))
    run.samples.setdefault("store_bytes", []).append(tree_bytes(store))
    if ref_ok:
        run.samples.setdefault("size_ratio", []).append(
            tree_bytes(os.path.join(store, "chunks"))
            / tree_bytes(ref, ".parquet"))
    if run.args.corrupt:
        corrupt_one_chunk(store, run.args.seed + c)

    def ref_read():
        return run.op("ref_read", "ref.parquet_read",
                      lambda: digest_row(spark.read.parquet(ref)), True)

    def full_read():
        t0 = time.perf_counter()
        with tr.span(wl.read_plan_span):
            df = wl.full_read(spark, store)
        run.samples.setdefault("decode_plan", []).append(
            time.perf_counter() - t0)
        return digest_row(df)

    ok_a, want, r_a = ref_read() if ref_ok else (False, None, None)
    ok, got, dec = run.op("decode", wl.read_span, full_read, True)
    _, _, r_b = ref_read() if ref_ok else (False, None, None)
    ratio("decode_vs_ref", dec, mean([r_a, r_b]))
    if ok:
        run.check("decode rows", got["rows"], n_rows)
    # the reference is Spark's lossless Parquet copy of the source, so its
    # digest is the source's, computed in the same window
    if ok_a and run.check("ref_read rows", want["rows"], n_rows) and ok:
        run.check("decode", got, want)
    q_walls, r_walls = [], []
    for q in queries:
        ok, ans, wall = run.op("query", f"{q.layer}.query.{q.kind}",
                               lambda: q.run(spark, store), True)
        q_walls.append(wall)
        if ok:
            run.check(q.kind, ans, q.expected)
        ok, ans, wall = run.op("ref_query", f"ref.query.{q.kind}",
                               lambda: q.answer(spark.read.parquet(ref)),
                               True) if ref_ok else (False, None, None)
        r_walls.append(wall)
        if ok:
            run.check(f"ref {q.kind}", ans, q.expected)
    if None not in q_walls + r_walls:
        ratio("query_vs_ref", sum(q_walls), sum(r_walls))
    if len(pairs) == 3:
        run.samples.setdefault("cycle_vs_ref", []).append(
            sum(d for d, _ in pairs) / sum(r for _, r in pairs))
    shutil.rmtree(ref, ignore_errors=True)
    return store


def spark_task_counts(spark, group: str) -> tuple[int, int]:
    st = spark.sparkContext.statusTracker()
    tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in (job.stageIds if job else ()):
            info = st.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
    return tasks, failed


def median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(run: Run, setup_s: float, logical: int, peak_rss: int) -> dict:
    s = run.samples
    mb = logical / _MB
    return {
        "setup_s": setup_s,
        "encode_mb_s": mb / median(s["encode"]) if s.get("encode") else None,
        "decode_mb_s": mb / median(s["decode"]) if s.get("decode") else None,
        "query_p50_ms": median(s["query"]) * 1e3 if s.get("query") else None,
        "encode_vs_ref": median(s.get("encode_vs_ref")),
        "decode_vs_ref": median(s.get("decode_vs_ref")),
        "query_vs_ref": median(s.get("query_vs_ref")),
        "cycle_vs_ref": median(s.get("cycle_vs_ref")),
        "size_ratio_vs_ref": median(s.get("size_ratio")),
        "stored_bytes_per_logical_byte":
            median(s["store_bytes"]) / logical if s.get("store_bytes")
            else None,
        "worker_peak_rss_mb": peak_rss / _MB if peak_rss else None,
    }


def tracing_overhead(tr, span_cost: float, wall: float) -> float:
    """Share of the timed wall spent recording spans: the spans recorded
    times the measured cost of one span.  A straight traced-minus-untraced
    difference of two runs on a shared host is swamped by run-to-run
    noise thousands of times larger than this."""
    return len(tr.spans) * span_cost / wall


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dumpster", "__init__.py")):
        print(f"perfbench: no dumpster package under {ROOT}; run from a "
              f"checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.spans import Tracer, span_cost_s
    from perfbench.workloads import WORKLOADS, logical_bytes

    wl = WORKLOADS[args.workload]
    rows = args.rows or wl.default_rows
    nproc = len(os.sched_getaffinity(0))     # what `nproc` reports
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{wl.name}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import dumpster from this checkout and keep their
    # temp files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    for var in ("TMPDIR", "TMP", "TEMP"):
        os.environ[var] = os.path.join(work, "tmp")
    # spark-submit's launcher JVM would otherwise leave /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = os.path.join(work, "tmp")
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tr = Tracer(run_id, enabled=bool(args.trace))
    prov = provenance()
    spark = None
    try:
        from dumpster.datasource import register_dumpster_source
        from dumpster.session import get_spark
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            spark = get_spark(f"perfbench-{wl.name}", cores=nproc, extra={
                "spark.driver.memory": "3g",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                    f"-XX:-UsePerfData"})
        session_s = time.perf_counter() - t0
        register_dumpster_source(spark)
        sc = spark.sparkContext
        sc.setJobGroup("perfbench", "set-up and warm-up")

        # set-up, repeated: the reported set-up time is the session start
        # plus the median of the repeats (no input cache survives a repeat)
        gen_s = []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tr.span("synth.materialize"):
                src = wl.generate(spark, rows, args.seed,
                                  os.path.join(work, f"setup{i}"))
            gen_s.append(time.perf_counter() - t0)
        setup_s = session_s + median(gen_s)
        for i in range(SETUP_REPS - 1):
            shutil.rmtree(os.path.join(work, f"setup{i}"), ignore_errors=True)

        src_df = spark.read.parquet(src)
        src_tbl = pq.read_table(src)
        logical = logical_bytes(src_tbl)
        io_dir = os.path.join(work, "io_trace")
        os.makedirs(io_dir, exist_ok=True)
        queries = wl.queries(io_dir if args.trace else None, src_tbl,
                             args.seed)
        n_rows = src_tbl.num_rows
        del src_tbl

        run = Run(args, wl, spark, tr, work)
        run.phases.update(session=session_s, setup=sum(gen_s))
        t0 = time.perf_counter()
        with tr.span("warmup"):
            run.warm_encode = warm_up(run, src_df, queries)
        run.phases["warmup"] = time.perf_counter() - t0
        store = None
        sc.setJobGroup("perfbench-timed", "timed cycles")
        jvm = type(sc)._gateway.proc.pid
        c = 1
        with RssSampler(jvm) as rss:
            t_start = time.perf_counter()
            while True:
                prev = store
                store = cycle(run, c, src_df, queries, n_rows) or store
                if prev and prev != store:
                    shutil.rmtree(prev, ignore_errors=True)
                c += 1
                elapsed = time.perf_counter() - t_start
                if elapsed >= args.seconds:
                    break
        tasks, failed_tasks = spark_task_counts(spark, "perfbench-timed")
        all_tasks, all_failed = (a + b for a, b in zip(
            spark_task_counts(spark, "perfbench"), (tasks, failed_tasks)))
        run.phases["timed"] = elapsed
        e2e = end_to_end(run, setup_s, logical, rss.peak)

        layer = {}
        if args.trace and store:
            span_cost = span_cost_s()
            base = {
                "session.start_s": session_s,
                "synth.materialize_s": median(gen_s),
                "engine.warmup_encode_s": run.warm_encode,
                "engine.spark_tasks": tasks,
                "engine.spark_tasks_failed": failed_tasks,
                "trace.span_cost_us": span_cost * 1e6,
                "trace.overhead_frac": tracing_overhead(tr, span_cost,
                                                        elapsed),
                "ref.encode_vs_ref": e2e["encode_vs_ref"],
            }
            try:
                layer = per_layer(run, spark, store, src_df, queries,
                                  io_dir, base)
            except Exception as exc:  # a failed replay check is a result
                run.failures.append(f"per-layer replay: "
                                    f"{type(exc).__name__}: {exc}")
                layer = base

        # a Spark task is a unit of work too: one that failed is a
        # failure even when the operation around it recovered
        failed = len(run.failures) + all_failed
        attempted = run.attempted + all_tasks
        report(args, wl, prov, rows, logical, run, e2e, layer, failed,
               attempted, elapsed, tr, out_dir)
        with open(os.path.join(out_dir, f"result_{wl.name}_s{args.seed}"
                               f"_t{args.trace}.json"), "w") as f:
            json.dump({"provenance": prov, "rows": rows, "logical": logical,
                       "phases_s": run.phases, "samples": run.samples,
                       "end_to_end": e2e, "per_layer": layer,
                       "failures": run.failures}, f, indent=1)
        metrics = layer if args.trace else e2e
        units = load_units(args.trace)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics.get(k), "unit": units[k]}
                        for k in units}}))
        return 0 if failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def per_layer(run: Run, spark, store, src_df, queries, io_dir, base: dict):
    from perfbench import layers
    from dumpster.engine import read_manifest
    tr, wl, s = run.tr, run.wl, run.samples
    out = dict(base)
    with tr.span("engine.read_manifest"):
        rows = [r.asDict() for r in read_manifest(spark, store).collect()]
    out.update(layers.manifest_metrics(rows))
    out.update(layers.replay_chunks(rows, wl, run.args.seed, tr,
                                    os.path.join(run.work, "replay")))
    out.update(layers.pipeline_floors(src_df, wl.url_col, tr))
    out.update(layers.datasource_plans(
        store, [q.filters for q in queries if q.filters is not None], tr))
    out["datasource.bytes_read_frac"] = layers.io_trace_frac(io_dir)
    if wl.name == "pages":
        # the DataFrame sink on the same table, for the datasource layer
        d = os.path.join(run.work, "sink")
        with tr.span("datasource.write"):
            t0 = time.perf_counter()
            src_df.write.format("dumpster").mode("append").save(d)
            out["datasource.write_s"] = time.perf_counter() - t0
        shutil.rmtree(d, ignore_errors=True)
    else:
        out["datasource.write_s"] = median(s["encode"])
    out["engine.encode_s"] = median(s["encode"])
    out["engine.decode_s"] = median(s["decode"])
    out["engine.decode_plan_ms"] = median(s["decode_plan"]) * 1e3
    out["fs.files_written"] = sum(len(f) for _, _, f in os.walk(store))
    out["ref.parquet_write_s"] = median(s["ref_write"])
    return out


def load_units(trace: int, key: str | None = None) -> dict:
    """Metric name -> unit, from metrics.json: the per-layer metrics for a
    traced run, the gated end-to-end metrics otherwise, or section
    ``key``."""
    with open(os.path.join(HERE, "metrics.json")) as f:
        spec = json.load(f)
    key = key or ("per_layer" if trace else "end_to_end")
    return {m["name"]: m["unit"] for m in spec[key]}


def report(args, wl, prov, rows, logical, run, e2e, layer, failed,
           attempted, elapsed, tr, out_dir):
    s = run.samples
    print(f"# perfbench {wl.name} seed={args.seed} trace={args.trace} "
          f"rows={rows} logical_mb={logical / _MB:.1f} "
          f"timed_s={elapsed:.1f}")
    print("# provenance " + json.dumps(prov))
    print("# phases_s " + json.dumps({k: round(v, 2)
                                      for k, v in run.phases.items()}))
    print(f"# environment local[{prov['nproc']}] workdir=.perfbench_work "
          f"flush=RenameFS fsync per chunk and directory; reference "
          f"Parquet via Spark committer, no fsync")
    gated = load_units(0)
    units = {**gated, **load_units(0, "report_only")}
    for k, v in e2e.items():
        print(f"  {k:32s} {v if v is None else round(v, 4)!s:>12} "
              f"{units[k]}{'' if k in gated else '  (reported, not gated)'}")
    q = s.get("query", [])
    if q:
        val, label = tail(q)
        print(f"  {'query_tail_ms':32s} {val * 1e3:12.1f} ms  ({label}; "
              f"reported, not gated)")
    print(f"  {'error_rate':32s} {failed / max(attempted, 1):12.4f} "
          f"ratio  ({failed} failed of {attempted} attempted: "
          f"{run.attempted} checked operations and the Spark tasks they ran)")
    for kind in ("encode", "ref_write", "decode", "ref_read", "query",
                 "ref_query"):
        xs = s.get(kind, [])
        print(f"  op.{kind:29s} {len(xs):5d} samples, median "
              f"{(median(xs) or 0) * 1e3:9.1f} ms")
    for f in run.failures[:20]:
        print(f"# FAILED {f}")
    if layer:
        self_s = tr.self_times()
        total = sum(self_s.values()) or 1.0
        print("# per-layer self time (traced run)")
        for lay, sec in sorted(self_s.items(), key=lambda kv: -kv[1]):
            print(f"  {lay:32s} {sec:10.3f} s {100 * sec / total:6.1f} %")
        print(f"  trace overhead: {layer['trace.overhead_frac']:.2e} of the "
              f"timed wall ({len(tr.spans)} spans at "
              f"{layer['trace.span_cost_us']:.2f} us each)")
        path = os.path.join(out_dir, f"trace_{wl.name}_s{args.seed}.json")
        tr.dump(path, {"provenance": prov, "workload": wl.name,
                       "seed": args.seed, "per_layer": layer,
                       "end_to_end": e2e, "failures": run.failures})
        print(f"# spans written to {os.path.relpath(path, ROOT)}")


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and so every Python worker) to
    exit."""
    sc_cls = type(spark.sparkContext)
    gw = sc_cls._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())

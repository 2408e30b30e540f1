"""YAML-configured batch jobs — the reference's O1/O2 orchestration surface.

The reference boots from a SnakeYAML file (`-Dconfig=application.yml`,
Application.java:17-31 → ApplicationProperties.java:6-57) listing Kafka
topics, an S3/HDFS sink, and a Hive metastore, then runs one consumer
thread per topic (KafkaStreamer.java:25-58).  This module is the batch
analog with the same shape (see config/application.yml.example in the
reference):

    reference key                  ours
    -------------                  ----
    topics: [{name, ...}]          tables: [{name, input, ...}]
    s3:/hdfs: {bucket, path}       output: {path, ...encode knobs}
    hive: {server, ...}            catalog: {register_views, prefix}
    (thread per topic)             (sequential jobs; Spark parallelism
                                    lives INSIDE each encode — the
                                    reference's 1-thread-per-topic cap,
                                    KafkaStreamer.java:31, is exactly the
                                    scaling limit this engine removes)

Example config::

    output:
      path: /data/encoded            # one sub-directory per table
      mode: local                    # local (default: one bucket per
                                     # input split, no shuffle; resume
                                     # needs the same split plan) |
                                     # salted | hourly
      chunk_rows: 65536
    catalog:
      register_views: true
      prefix: dumpster_              # temp view name = prefix + table name
    tables:
      - name: pages
        input: /data/pages.parquet
        mode: salted                 # global host-major layout
        url_col: url                 # salted host bucketing (a host
                                     # sort within each split in local)
        n_buckets: 64                # salted only, like salt_k: a local
        salt_k: 4                    # table given either (here or under
                                     # output) is refused
      - name: events
        input: /data/events.parquet
        mode: hourly                 # dt=/hr= reference tree
        ts_col: ts

Run: ``spark-submit --py-files dumpster.zip -m dumpster.jobs --config job.yml``
or ``python -m dumpster.jobs --config job.yml`` (session from env).
Prints one JSON line per run: per-table rows/bytes/ratio + view names.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class TableJob:
    name: str
    input: str
    mode: str = "local"           # local | salted | hourly | stream_hourly
    url_col: str | None = None
    ts_col: str = "warc_ts"
    n_buckets: int | None = None
    salt_k: int | None = None
    chunk_rows: int | None = None
    # streaming knobs (mode=stream_hourly) — the reference's per-topic
    # tuning surface (TopicProperties.java:49-55): partitionForget (the
    # hard flush timeout for a stale hour window,
    # HourlyBasedPartitioner.java:140) maps to the micro-batch trigger
    # cadence — every trigger flushes its own batch=N hour files, and a
    # late record simply lands in a later batch's namespace (the same
    # unique-filename contract as {partition}_{firstOffset}.parquet).
    # `watermark` bounds state for the windowed hourly-counts side
    # aggregate (G4's declarative form).
    checkpoint: str | None = None
    trigger_seconds: int | None = None   # None = availableNow (drain+stop)
    run_for_seconds: int | None = None   # required with trigger_seconds:
                                         # run_jobs is a BOUNDED runner
    watermark: str = "2 hours"


@dataclass
class JobConfig:
    out_path: str
    mode: str = "local"
    n_buckets: int | None = None    # salted tables only (engine default 32)
    salt_k: int | None = None       # salted tables only (engine default 4)
    chunk_rows: int = 65536
    register_views: bool = False
    view_prefix: str = "dumpster_"
    tables: list[TableJob] = field(default_factory=list)


def _int_or_none(v):
    return None if v is None else int(v)


def load_config(path: str) -> JobConfig:
    import yaml
    with open(path) as f:
        raw = yaml.safe_load(f)
    out = raw.get("output") or {}
    cat = raw.get("catalog") or {}
    cfg = JobConfig(
        out_path=out["path"],
        mode=out.get("mode", "local"),
        n_buckets=_int_or_none(out.get("n_buckets")),
        salt_k=_int_or_none(out.get("salt_k")),
        chunk_rows=int(out.get("chunk_rows", 65536)),
        register_views=bool(cat.get("register_views", False)),
        view_prefix=cat.get("prefix", "dumpster_"),
    )
    for t in raw.get("tables") or []:
        cfg.tables.append(TableJob(
            name=t["name"], input=t["input"],
            mode=t.get("mode", cfg.mode),
            url_col=t.get("url_col"),
            ts_col=t.get("ts_col", "warc_ts"),
            n_buckets=t.get("n_buckets"),
            salt_k=t.get("salt_k"),
            chunk_rows=t.get("chunk_rows"),
            checkpoint=t.get("checkpoint"),
            trigger_seconds=t.get("trigger_seconds"),
            run_for_seconds=t.get("run_for_seconds"),
            watermark=t.get("watermark", "2 hours")))
    if not cfg.tables:
        raise ValueError("config lists no tables")
    return cfg


def run_jobs(spark: SparkSession, cfg: JobConfig) -> list[dict]:
    """Encode every configured table; resume-safe (re-running a config is
    the reference's restart: completed buckets are skipped via manifests).
    Returns one summary dict per table."""
    from .engine import (encode_summary, encode_table,
                         encode_table_partitioned, read_manifest,
                         register_decoded_view)

    for t in cfg.tables:
        # salted-only sizing is refused up front, before any table is
        # encoded, rather than silently dropped for a split-local table
        sizing = [k for k in ("n_buckets", "salt_k")
                  if t.mode == "local" and (getattr(t, k) is not None
                                            or getattr(cfg, k) is not None)]
        if sizing:
            raise ValueError(
                f"table {t.name}: {', '.join(sizing)} size the salted "
                f"layout, but the table uses the split-local layout (one "
                f"bucket per input split); set mode: salted on the table "
                f"or the output, or drop {', '.join(sizing)}")

    results = []
    for t in cfg.tables:
        df = spark.read.parquet(t.input)
        out_dir = os.path.join(cfg.out_path, t.name)
        chunk_rows = t.chunk_rows or cfg.chunk_rows
        if t.mode == "stream_hourly":
            from .streaming import (encode_stream_partitioned,
                                    hourly_windowed_counts)
            stream = (spark.readStream.schema(df.schema)
                      .parquet(t.input))
            if t.trigger_seconds is not None and not t.run_for_seconds:
                raise ValueError(
                    f"table {t.name}: trigger_seconds sets a CONTINUOUS "
                    f"micro-batch cadence, but run_jobs is a bounded "
                    f"runner — set run_for_seconds (how long to keep the "
                    f"stream up) or drop trigger_seconds for the "
                    f"drain-and-stop default")
            q = encode_stream_partitioned(
                stream, out_dir,
                checkpoint=t.checkpoint or os.path.join(out_dir, "_ckpt"),
                ts_col=t.ts_col, chunk_rows=chunk_rows,
                trigger_seconds=t.trigger_seconds)
            if t.trigger_seconds is None:
                q.awaitTermination()
            else:
                # the cadence previously never reached the writer AND the
                # unbounded query was awaited forever — run_jobs hung
                q.awaitTermination(t.run_for_seconds)
                q.stop()
                q.awaitTermination()
            if t.watermark:
                # G4 side output: watermarked hourly counts — the
                # declarative form of the reference's window-close
                # bookkeeping; the watermark bounds the agg state
                cq = (hourly_windowed_counts(stream, t.ts_col, t.watermark)
                      .writeStream.outputMode("append")
                      .option("checkpointLocation",
                              os.path.join(out_dir, "_ckpt_counts"))
                      .trigger(availableNow=True)
                      .format("parquet")
                      .option("path",
                              os.path.join(out_dir, "_hourly_counts"))
                      .start())
                cq.awaitTermination()
            man = read_manifest(spark, out_dir)
        elif t.mode == "hourly":
            man = encode_table_partitioned(
                df, out_dir, ts_col=t.ts_col, chunk_rows=chunk_rows)
        else:
            man = encode_table(
                df, out_dir, url_col=t.url_col,
                n_buckets=t.n_buckets or cfg.n_buckets,
                salt_k=t.salt_k or cfg.salt_k,
                chunk_rows=chunk_rows, mode=t.mode)
        s = encode_summary(man)
        summary = {"table": t.name, "mode": t.mode, "out": out_dir,
                   "rows": int(s["rows"]), "chunks": int(s["chunks"]),
                   "raw_bytes": int(s["raw_bytes"]),
                   "encoded_bytes": int(s["encoded_bytes"]),
                   "ratio": round(float(s.get("ratio", 0)), 4)}
        if cfg.register_views:
            view = cfg.view_prefix + t.name
            register_decoded_view(spark, out_dir, view)
            summary["view"] = view
        results.append(summary)
    return results


def main(argv: list[str] | None = None) -> None:
    import argparse

    from .session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--config", required=True)
    args = ap.parse_args(argv)
    cfg = load_config(args.config)
    spark = get_spark("dumpster-jobs")
    try:
        results = run_jobs(spark, cfg)
        print(json.dumps({"tables": results}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()

"""Iceberg front door — the north-star input format, capability-gated.

The target deployment encodes an Iceberg table of Common-Crawl-style web
pages; this sandbox ships no Iceberg runtime jar, so (exactly like the
Kafka/Avro front door, streaming.kafka_avro_source) the reader is real
but gated: it raises :class:`dumpster.streaming.CapabilityMissing` with
the precise ``--packages`` + catalog-conf remedy when the jar is absent,
and tests drive the surrounding plumbing through an injected loader.

Scale notes: Iceberg's Spark reader plans splits from its own manifest
trees (column-pruned, predicate-pushed scans for free); ``encode_iceberg``
feeds that scan straight into :func:`dumpster.engine.encode_table`, so
the only bytes moved are the projected columns and the engine's one
salted shuffle.  ``snapshot_id``/``as_of_timestamp`` pin a snapshot so a
resumed encode re-reads EXACTLY the rows of the interrupted run —
Iceberg's snapshot isolation is what makes the chunk-manifest resume
contract sound against a table that keeps ingesting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .streaming import CapabilityMissing


def iceberg_capabilities(spark: SparkSession) -> dict:
    """Whether this Spark can load the Iceberg runtime (JVM class lookup,
    same probe style as streaming.kafka_capabilities)."""
    def has(cls: str) -> bool:
        try:
            spark._jvm.java.lang.Class.forName(cls)  # noqa: SLF001
            return True
        except Exception:
            return False
    return {"iceberg": has("org.apache.iceberg.spark.SparkCatalog")}


def _remedy(spark: SparkSession) -> str:
    major_minor = ".".join(spark.version.split(".")[:2])
    return (
        "Iceberg runtime jar missing.  Launch with --packages "
        f"org.apache.iceberg:iceberg-spark-runtime-{major_minor}_2.13:"
        "<iceberg-version> and configure a catalog, e.g. "
        "--conf spark.sql.catalog.cc=org.apache.iceberg.spark.SparkCatalog "
        "--conf spark.sql.catalog.cc.type=hadoop "
        "--conf spark.sql.catalog.cc.warehouse=<warehouse-uri>")


def read_iceberg(spark: SparkSession, table: str, *,
                 snapshot_id: int | None = None,
                 as_of_timestamp: int | None = None) -> DataFrame:
    """Read an Iceberg table (optionally pinned to a snapshot) or raise
    CapabilityMissing with the exact deploy-time fix."""
    if not iceberg_capabilities(spark)["iceberg"]:
        raise CapabilityMissing(_remedy(spark))
    r = spark.read.format("iceberg")
    if snapshot_id is not None:
        r = r.option("snapshot-id", str(snapshot_id))
    if as_of_timestamp is not None:
        r = r.option("as-of-timestamp", str(as_of_timestamp))
    return r.load(table)


def encode_iceberg(spark: SparkSession, table: str, out_dir: str, *,
                   snapshot_id: int | None = None,
                   as_of_timestamp: int | None = None,
                   columns: list[str] | None = None,
                   loader=None, mode: str = "salted",
                   **encode_kw) -> DataFrame:
    """Encode an Iceberg table into a dumpster store: the north-star
    pipeline in one call (Iceberg snapshot scan → encode →
    chunk manifests).  Returns the manifest DataFrame.  ``mode`` and
    ``encode_kw`` are passed to engine.encode_table, but ``mode``
    defaults to ``"salted"`` here, not to encode_table's split-local
    layout: an Iceberg scan is not a file scan, so a split-local encode
    would be fingerprinted by its semantic hash, which Spark does not
    promise to keep across processes, and a crashed encode could then
    refuse to resume.  ``mode="local"`` opts into the shuffle-free
    layout for a one-shot encode.

    ``loader`` (spark, table) -> DataFrame overrides the Iceberg reader —
    the jarless-test seam, and open for any other table provider.
    ``columns`` projects before the scan so Iceberg's column pruning
    keeps unread column bytes off the wire entirely.
    """
    from .engine import encode_table
    if loader is not None:
        df = loader(spark, table)
    else:
        df = read_iceberg(spark, table, snapshot_id=snapshot_id,
                          as_of_timestamp=as_of_timestamp)
    if columns:
        df = df.select(*columns)
    return encode_table(df, out_dir, mode=mode, **encode_kw)

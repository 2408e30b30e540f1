"""dumpster — a PySpark-native per-column lightweight-compression engine.

A from-scratch re-imagining of grupozap/dumping-machine's Avro→Parquet sink
path (reference: RecordWriter.java:27-34) as an idiomatic-Spark columnar
encode pipeline: the reference delegates all columnar work to parquet-avro's
writer (Snappy + dictionary, 256 MiB row groups, 64 KiB pages); this engine
owns the codec layer — dictionary, RLE, FSST, frame-of-reference + bit-pack,
delta — with a sampling-based per-column-chunk auto-selector, running inside
vectorized Arrow UDFs (``DataFrame.mapInArrow``) over explicitly
repartitioned, salt-bucketed partitions, emitting per-partition chunk files
plus manifest/lineage/metrics rows so interrupted encodes resume from the
checkpointed manifest.

Layout (SURVEY.md §7.1):
  codecs/    pure-NumPy codecs + selector (no Spark dependency)
  chunk.py   on-disk chunk container format (serialization + CRC)
  fs.py      publish backends (rename / S3-style put) + file_lock
  pipeline.py relational prep (dedup, hour bucketing, host/salt, metadata)
  engine.py  encode_table / decode_table (mapInArrow drivers), manifest
             schema + resume bookkeeping
  datasource.py  Python DataSource "dumpster": pushdown reader + native
             batch/stream sinks (df.write / df.writeStream)
  iceberg.py capability-gated Iceberg front door (snapshot-pinned encode)
  synth.py   deterministic Common-Crawl-style `pages` generator
  textops.py / dedup.py / simsearch.py / multimodal.py
             training-data-pipeline operators over documents/embeddings
  zipcache.py  stat-keyed zip-archive cache invalidation, installed on
             import so every Python worker that runs dumpster code skips
             PySpark's per-task re-read of unchanged archives
"""

from dumpster.zipcache import install_zip_invalidation

__version__ = "0.1.0"

install_zip_invalidation()

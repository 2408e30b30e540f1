"""Manifest zone maps: per-chunk min/max stats prune decode to the chunks
overlapping a predicate range (the dt=/hr= partition pruning of the
reference, generalised to Iceberg-style manifest stats)."""

import datetime
import glob
import json
import os

from pyspark.sql import functions as F

from dumpster.engine import (_plan_chunks, _zone_filters, decode_table,
                             encode_table, read_manifest)
from dumpster.synth import synth_pages


def test_zone_maps_present_in_manifest(spark, tmp_path):
    pages = synth_pages(spark, 1000, seed=3)
    out = str(tmp_path / "enc")
    man = encode_table(pages, out, url_col="url", mode="salted",
                       n_buckets=4, chunk_rows=256,
                       order_cols=("warc_ts",))
    stats = json.loads(man.limit(1).collect()[0]["col_stats"])
    by_col = {s["column"]: s for s in stats}
    assert by_col["warc_ts"]["vmin"] is not None
    assert by_col["warc_ts"]["vmin"] <= by_col["warc_ts"]["vmax"]
    assert by_col["text"]["vmin"] is None          # var-width: no zone map


def test_zone_filter_prunes_and_preserves_results(spark, tmp_path):
    pages = synth_pages(spark, 4000, seed=5).cache()
    out = str(tmp_path / "enc")
    encode_table(pages, out, mode="salted", n_buckets=4, chunk_rows=256,
                 order_cols=("warc_ts",))
    lo = datetime.datetime(2026, 1, 1, 0, 10)
    hi = datetime.datetime(2026, 1, 1, 0, 20)

    pruned = decode_table(spark, out, zone_filter=("warc_ts", lo, hi))
    exact_pruned = pruned.filter(F.col("warc_ts").between(lo, hi))
    exact_full = (decode_table(spark, out)
                  .filter(F.col("warc_ts").between(lo, hi)))
    assert exact_pruned.count() == exact_full.count() > 0
    assert exact_full.exceptAll(exact_pruned).count() == 0

    # pruning actually skipped chunks
    kept = _plan_chunks([out], _zone_filters(("warc_ts", lo, hi)))
    total = len(glob.glob(os.path.join(out, "chunks", "*.dmc")))
    assert 0 < len(kept) < total


def test_zone_filter_conservative_on_missing_stats(spark, tmp_path):
    pages = synth_pages(spark, 300, seed=6)
    out = str(tmp_path / "enc")
    encode_table(pages, out, url_col="url", mode="salted",
                 n_buckets=2, chunk_rows=128)
    rows = read_manifest(spark, out).select("file", "col_stats").collect()
    # filtering on a var column (no stats) keeps everything
    kept = _plan_chunks([out], _zone_filters(("text", 0, 1)))
    assert len(kept) == len({r["file"] for r in rows})

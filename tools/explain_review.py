"""Physical-plan audit: prints .explain("formatted") for the engine's key
plans and asserts the plan properties that matter at 100 TB:

 * encode prep = exactly ONE exchange (the explicit salted-bucket
   repartition) — no accidental extra shuffles
 * parquet scans carry PushedFilters / pruned ReadSchema where expected
 * decode plan has NO exchange at all (embarrassingly parallel over chunks)
 * broadcast join on the small side of the ANN pipeline
 * WholeStageCodegen spans cover the relational prep

Usage: python tools/explain_review.py [> PLANS.md]
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def section(title: str, df, checks: dict[str, bool]):
    plan = plan_of(df)
    print(f"\n## {title}\n")
    print("```")
    print(plan.strip()[:4000])
    print("```")
    for desc, ok in checks.items():
        print(f"- {'PASS' if ok else 'FAIL'}: {desc}")
    return all(checks.values())


def main():
    from pyspark.sql import functions as F
    from dumpster.session import get_spark
    from dumpster.pipeline import prep_for_encode
    from dumpster.engine import encode_table, decode_table
    from dumpster.synth import synth_pages

    spark = get_spark("explain-review", cores=8)
    ok = True
    print("# PLANS — physical-plan audit (`.explain(\"formatted\")`)")

    # 1. encode prep: one exchange, codegen, no extra sort shuffles
    pages = spark.read.parquet(os.path.join("/tmp/dumpster_bench_cache",
                                            "pages_n800000_s42.parquet")) \
        if os.path.exists("/tmp/dumpster_bench_cache/pages_n800000_s42.parquet") \
        else synth_pages(spark, 2000)
    prep = prep_for_encode(pages, "url", 128, 4)
    p = plan_of(prep)
    ok &= section("encode prep (salted repartition + locality sort)", prep, {
        "exactly one Exchange node (the explicit bucket shuffle)":
            len(re.findall(r"\(\d+\) Exchange", p)) == 1,
        "local Sort only (sortWithinPartitions, no global sort exchange)":
            "Sort" in p and "rangepartitioning" not in p.lower(),
        "host regexp computed once and reused (single __host projection)":
            p.count("regexp_extract") == 1,
        "no Python row evaluation in the prep (all JVM-side)":
            "EvalPython" not in p,
    })

    # 1b. local-mode prep: zero exchanges end-to-end
    from dumpster.pipeline import prep_for_encode_local
    prep_l = prep_for_encode_local(pages, "url")
    p = plan_of(prep_l)
    ok &= section("encode prep, mode='local' (zero-shuffle)", prep_l, {
        "NO Exchange node anywhere (bucket = input split)":
            "Exchange" not in p,
        "local Sort only (host-major within the split)":
            "Sort" in p and "rangepartitioning" not in p.lower(),
        "no Python row evaluation in the prep (all JVM-side)":
            "EvalPython" not in p,
    })

    # 1c. partitioned (dt=/hr=) encode prep: the hour id is a bucket_expr
    # that indexes a literal array by hour, so no join is planned and the
    # only exchange is the bucket repartition
    from dumpster.engine import _hour_bucket
    first = 20454 * 24                      # hour index of 2026-01-01 00h
    hours = {first + h: h for h in range(4)}
    h = F.unix_date(F.to_date("warc_ts")) * 24 + F.hour("warc_ts")
    hourly = pages.withColumn("__bucket", _hour_bucket(h, hours)) \
        .repartition(8, "__bucket").sortWithinPartitions("__bucket")
    p = plan_of(hourly)
    ok &= section("partitioned encode prep (dt=/hr= hour buckets)", hourly, {
        "no join of any kind (the hour ids are a literal array)":
            "Join" not in p and "CartesianProduct" not in p,
        "exactly one Exchange (the bucket repartition)":
            len(re.findall(r"\(\d+\) Exchange\b", p)) == 1,
    })

    # 2. scan pruning: projection reaches ReadSchema, filter pushed
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    p = plan_of(q)
    ok &= section("filter+projection pushdown into parquet scan", q, {
        "PushedFilters carries the lang predicate":
            "PushedFilters" in p and "lang" in p.split("PushedFilters", 1)[1][:200],
        "ReadSchema pruned to 2 columns (no text/source/n_chars)":
            "text" not in p.split("ReadSchema", 1)[1][:200],
    })

    # 3. decode: zero exchanges
    out = tempfile.mkdtemp(prefix="explain_dec_")
    encode_table(docs, out,
                 bucket_expr=F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int"),
                 n_buckets=4, chunk_rows=512)
    dec = decode_table(spark, out, columns=["doc_id", "lang"])
    p = plan_of(dec)
    ok &= section("decode (data-shuffle-free: only file names exchange)", dec, {
        "at most one Exchange and it carries only the file-path column "
        "(decoded data rows never shuffle)":
            len(re.findall(r"\(\d+\) Exchange", p)) <= 1
            and ("Input [1]: [file#" in p or "Exchange" not in p),
    })

    # 3b. transparent pushdown view: Python DataSource scan + row-level
    # re-apply; planning-time chunk pruning is asserted by file count
    from dumpster.engine import register_decoded_view, table_schema
    from dumpster.datasource import DumpsterReader
    from pyspark.sql.datasource import EqualTo

    out_z = tempfile.mkdtemp(prefix="explain_push_")
    encode_table(docs.orderBy("doc_id"), out_z,
                 bucket_expr=(F.col("doc_id") % 4).cast("int"),
                 n_buckets=4, chunk_rows=32, order_cols=("doc_id",))
    register_decoded_view(spark, out_z, "explain_push", pushdown=True)
    pq = spark.sql(
        "SELECT doc_id, lang FROM explain_push WHERE doc_id BETWEEN 10 AND 40")
    p = plan_of(pq)
    schema = table_schema(out_z)
    n_all = sum(len(pt.files) for pt in
                DumpsterReader({"path": out_z}, schema).partitions())
    rd = DumpsterReader({"path": out_z}, schema)
    list(rd.pushFilters([EqualTo(("doc_id",), 20)]))
    n_pruned = sum(len(pt.files) for pt in rd.partitions())
    ok &= section("pushdown view (DataSource scan, zone-pruned planning)", pq, {
        "plan scans the dumpster DataSource (no full-decode fallback)":
            "BatchScan dumpster" in p or "PythonScan" in p.replace(" ", ""),
        "row predicate re-applied above the scan (exactness)":
            "Filter" in p and "doc_id" in p,
        "zone maps prune chunk files at planning time":
            0 < n_pruned < n_all,
    })

    # 4. ANN brute force: no shuffle on the big side before top-k
    import __spark_entry__ as e
    ann = e.q_ann_topk_cosine(spark, SF)
    p = plan_of(ann)
    ok &= section("ANN top-k (broadcast queries, shuffle only for top-k)", ann, {
        "big side reaches the scorer without a join shuffle "
        "(single exchange for the per-query window)":
            p.count("Exchange") <= 2,
    })

    # 5. exact-dedup aggregate: partial aggregation map-side
    dd = e.q_exact_dup_groups(spark, SF)
    p = plan_of(dd)
    ok &= section("exact dedup (hash-groupBy with map-side partial agg)", dd, {
        # substring checks, not .index(): a missing node must print FAIL,
        # not crash the audit mid-report with ValueError
        "partial HashAggregate before the exchange":
            "HashAggregate" in p and "Exchange" in p
            and p.index("HashAggregate") < p.index("Exchange"),
    })

    # 6. repetition signals: n-gram legs stay in codegen, top-word leg
    # partial-aggregates map-side; no Python anywhere
    rs = e.q_repetition_signals(spark, SF)
    p = plan_of(rs)
    ok &= section("repetition signals (codegen n-grams + map-side agg)", rs, {
        "no Python evaluation in the plan":
            "EvalPython" not in p and "PythonUDF" not in p,
        # index-compare breaks here: the tree summary prints the
        # BroadcastExchange of the final join before the aggregate nodes;
        # assert the map-side partials directly instead
        "both aggregation levels partial-aggregate before their exchange":
            "partial_count" in p and "partial_max" in p,
        "small per-doc side broadcast, not shuffled, into the join":
            "BroadcastHashJoin" in p,
    })

    # 7. repeated-passage removal: explode is a flatMap (Generate, no
    # exchange before it), corpus count partial-aggregates map-side,
    # no Python anywhere
    rp = e.queries()["repeated_passage_removal"](spark, SF)
    p = plan_of(rp)
    ok &= section("repeated-passage removal (flatMap explode + map-side "
                  "count + hash probe)", rp, {
        "no Python evaluation in the plan":
            "EvalPython" not in p and "PythonUDF" not in p,
        "passage explode is a Generate node (flatMap, not a join)":
            "Generate" in p and "posexplode" in p,
        "corpus-frequency count partial-aggregates before its exchange":
            "partial_count" in p,
    })

    # 8. URL keep-latest: ONE exchange, max_by(struct) partial-aggregates
    # map-side (each task sends at most one candidate row per URL)
    ul = e.queries()["url_keep_latest"](spark, SF)
    p = plan_of(ul)
    ok &= section("URL keep-latest (map-side-combinable max_by groupBy)",
                  ul, {
        "exactly one Exchange (the canonical-URL groupBy)":
            len(re.findall(r"\(\d+\) Exchange", p)) == 1,
        "partial max_by before the exchange (one candidate per key "
        "leaves each task)":
            "partial_max_by" in p or ("max_by" in p and "partial" in p),
        "no Python evaluation in the plan":
            "EvalPython" not in p,
    })

    # 9. stratified sample: pure row-local filter — zero exchanges,
    # zero Python, survives 10^12 rows as a map-only scan
    ss = e.queries()["stratified_sample"](spark, SF)
    p = plan_of(ss)
    ok &= section("stratified sample (map-only deterministic filter)", ss, {
        "NO Exchange node anywhere":
            "Exchange" not in p,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
        "filter sits directly on the parquet scan":
            "Filter" in p and "Scan parquet" in p,
    })

    # 10. contamination overlap: benchmark side broadcast, one data
    # shuffle (the per-doc groupBy)
    co = e.q_contamination_overlap(spark, SF)
    p = plan_of(co)
    ok &= section("contamination overlap (broadcast eval-set probe)", co, {
        "benchmark n-gram set joins by BroadcastHashJoin":
            "BroadcastHashJoin" in p,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
    })

    # 11. host blocklist: suffix explode stays a Generate (flatMap), the
    # blocklist joins broadcast (never a LIKE-join/cartesian)
    hb = e.queries()["host_blocklist_matches"](spark, SF)
    p = plan_of(hb)
    ok &= section("host blocklist (suffix-explode broadcast equijoin)", hb, {
        "suffix explode is a Generate node":
            "Generate" in p,
        "blocklist joins via BroadcastHashJoin (no cartesian)":
            "BroadcastHashJoin" in p and "Cartesian" not in p,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
    })

    # 12. sessionize: both windows (gap lag + running session sum) share
    # one Exchange + one Sort — a second sort would mean Catalyst failed
    # to merge the window specs
    se = e.queries()["sessionize_events"](spark, SF)
    p = plan_of(se)
    ok &= section("sessionize (two windows, ONE Exchange + ONE Sort)", se, {
        "exactly one Exchange (the per-user window partitioning)":
            len(re.findall(r"\(\d+\) Exchange", p)) == 1,
        "exactly one Sort (both windows share spec)":
            len(re.findall(r"\(\d+\) Sort\b", p)) == 1,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
    })

    # 13. token-budget selection: the per-stratum bounds join broadcast
    # (map-only probe for everything above the threshold bucket); only
    # the boundary bucket pays a window sort
    tb = e.queries()["token_budget_select"](spark, SF)
    p = plan_of(tb)
    ok &= section("token-budget selection (broadcast bounds probe, "
                  "window only on the boundary bucket)", tb, {
        "threshold bounds join via BroadcastHashJoin":
            "BroadcastHashJoin" in p,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
        "no cartesian product":
            "Cartesian" not in p,
    })

    # 14. top-k words: the LIMIT plans as TakeOrderedAndProject (per-
    # partition top-k, driver merge) — a Sort + GlobalLimit would be a
    # full sort shuffle
    tw = e.queries()["top_words"](spark, SF)
    p = plan_of(tw)
    ok &= section("top-k words (TakeOrderedAndProject, no global sort)",
                  tw, {
        "top-k is TakeOrderedAndProject":
            "TakeOrderedAndProject" in p,
        "word count partial-aggregates before its exchange":
            "partial_count" in p,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
    })

    # 15. normalize_text: map-only regexp pipeline
    nt = e.queries()["normalize_text"](spark, SF)
    p = plan_of(nt)
    ok &= section("normalize_text (map-only regexp pipeline)", nt, {
        "NO Exchange node anywhere":
            "Exchange" not in p,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
    })

    # 16. sequence packing: global prefix sum WITHOUT a global window —
    # the data-sized exchanges are the range partition and the per-pid
    # window; the only SinglePartition stage is the P-row totals window,
    # which rejoins via broadcast
    ps = e.queries()["pack_sequences"](spark, SF)
    p = plan_of(ps)
    ok &= section("pack_sequences (distributed prefix sum, no global "
                  "data window)", ps, {
        # r5: __pid is a pure function of id (driver-computed literal cut
        # points), hash-repartitioned — NOT repartitionByRange, whose
        # sampled boundaries made correctness depend on exchange reuse
        "pid ranges are literal-bound (hash partition on __pid, no "
        "sampled rangepartitioning)":
            "rangepartitioning" not in p.lower()
            and "hashpartitioning(__pid" in p,
        "partition prefix rejoins via BroadcastHashJoin":
            "BroadcastHashJoin" in p,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
    })

    # 17. duplicate spans: k-gram explode is a Generate (flatMap), the
    # corpus count partial-aggregates map-side, the island window
    # partitions by doc (sort bounded by doc length, not corpus size)
    dsp = e.queries()["duplicate_spans"](spark, SF)
    p = plan_of(dsp)
    ok &= section("duplicate spans (k-gram marking + per-doc islands)",
                  dsp, {
        "k-gram explode is a Generate node":
            "Generate" in p and "posexplode" in p,
        "corpus-frequency count partial-aggregates before its exchange":
            "partial_count" in p,
        "island window partitions by doc_id (bounded per-doc sort)":
            re.search(r"Arguments: \[.*\], \[doc_id#\d+L?\], \[pos#", p)
            is not None,
        "no Python evaluation in the plan":
            "EvalPython" not in p,
    })

    # 18. incremental store dedup: the ledger side is the engine's
    # pruned one-column decode (exactly one MapInArrow — the fingerprint
    # read), joined LeftAnti, never a cartesian
    da = e.queries()["dedup_against_store"](spark, SF)
    p = plan_of(da)
    ok &= section("dedup against encoded store (pruned ledger decode + "
                  "anti-join)", da, {
        "exactly one MapInArrow (the one-column ledger decode)":
            len(re.findall(r"MapInArrow", p)) >= 1
            and len(re.findall(r"\(\d+\) MapInArrow", p)) == 1,
        "anti-join on the fingerprint (LeftAnti, no cartesian)":
            "LeftAnti" in p and "Cartesian" not in p,
        "no row-at-a-time Python (no EvalPython/BatchEvalPython)":
            "EvalPython" not in p,
    })

    spark.stop()
    print(f"\n**overall: {'PASS' if ok else 'FAIL'}**")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

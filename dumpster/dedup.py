"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The large-scale training-data dedup family, expressed Spark-first:

* exact: hash-groupBy — one shuffle on the text hash, partial-agg pushed
  map-side by Catalyst.
* shingling stays JVM-side via ``F.transform`` with an index lambda (no
  Python); the same construction exists verbatim in DuckDB list lambdas,
  which is what makes the oracle parity exact.
* MinHash: per-band min over portable md5-derived shingle hashes; LSH
  candidate generation is a self-equijoin on (band, signature) — i.e. the
  classic band-bucket join, which Spark shuffles on the bucket key (the
  join key IS the LSH bucket).
* SimHash: 64-bit signature via Arrow-batched pandas UDF (textops);
  near-dup candidates = equal signatures (hamming-0) or banded prefixes.

Scale notes: at 10^12 docs the shingle explode is the big intermediate —
it is a straight flatMap (no shuffle), and the band join shuffles only
(doc_id × n_bands) rows of fixed width.  Hot buckets (boilerplate text)
are the skew risk; cap candidate bucket size with a count filter before
the pair join (``max_bucket``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# One live cached intermediate at a time (ADVICE r2: repeated calls used
# to accumulate persisted shingle/signature tables until executor storage
# filled).  Each dedup call releases the previous call's cache; callers
# should materialize one result before starting the next dedup op, or
# call release_dedup_cache() explicitly when done.
_CACHE: list = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel
    release_dedup_cache()
    h = df.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHE.append(h)
    return h


def release_dedup_cache() -> None:
    """Unpersist any intermediate cached by a previous dedup call."""
    while _CACHE:
        try:
            _CACHE.pop().unpersist()
        except Exception:
            pass


def exact_dup_groups(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents (md5 keyed), smallest id kept."""
    return (df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
            .agg(F.count("*").alias("cnt"),
                 F.min(id_col).alias("keeper"))
            .filter(F.col("cnt") > 1))


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document, JVM-side only.

    The token array is materialized in its own projection FIRST and the
    n-gram lambda only references that bound column: inlining the
    `split()` into the lambda (the old shape) makes every `element_at`
    re-split the whole text — O(words²) per document, measured 6.8 s of
    a 7.3 s minhash wall at sf0.1.  Catalyst's CollapseProject keeps a
    multiply-referenced non-cheap alias materialized, which this shape
    relies on (pinned by the timing-sensitive bench and the oracle)."""
    toks_df = df.select(F.col(id_col).alias("doc_id"),
                        F.split(F.col(text_col), " ").alias("__toks"))
    toks = F.col("__toks")
    sh = F.transform(
        toks,
        lambda x, i: F.when(
            i <= F.size(toks) - n,
            F.concat_ws(" ", *[F.element_at(toks, i + j + 1)
                               for j in range(n)])))
    return (toks_df.select("doc_id",
                           F.explode(F.array_distinct(F.filter(
                               sh, lambda s: s.isNotNull()))).alias("shingle")))


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        n: int = 3) -> DataFrame:
    """Candidate near-dup pairs by word-shingle Jaccard ≥ threshold.

    Self-equijoin on the shingle (only docs sharing ≥1 shingle pair up),
    then |A∩B| / (|A|+|B|−|A∩B|).

    The shingle table feeds three consumers (per-doc sizes + both join
    sides), so it is persisted.  Scale note: exact all-pairs Jaccard is
    the VERIFICATION op you run on MinHash-LSH candidates (a small doc
    subset), not on the whole crawl — at that size the exploded shingle
    table persists comfortably; for whole-corpus dedup use
    minhash_lsh_pairs.

    Cache contract (shared by all dedup ops): ONE intermediate stays
    persisted at a time — starting another dedup op before materializing
    this function's result unpersists the shingle table and forces a full
    re-shingle when the result is finally consumed (correct, just slow).
    Materialize (write/collect/count) before the next dedup call, or time
    release_dedup_cache() explicitly.
    """
    sh = _persist_tracked(shingles(df, n=n))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("id_a"),
                      F.col("b.doc_id").alias("id_b"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


MINHASH_P = 1073741789   # prime < 2^30: affine transforms stay in int64


def shingle_hash(col) -> "F.Column":
    """Portable 60-bit shingle hash: first 15 md5 hex digits as an int.

    Identical in Spark (`conv(substr(md5(x),1,15),16,10)`) and DuckDB
    (`CAST(('0x'||substr(md5(x),1,15)) AS BIGINT)`), which is what lets
    the DuckDB oracle reproduce signatures exactly.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(df: DataFrame, n_bands: int = 8,
                       n: int = 3) -> DataFrame:
    """Per-(doc, band) minhash via one shingle hash + affine band maps.

    sig_band = min over shingles of ((2·band+1)·(h mod P) + band) mod P —
    the classic single-hash minhash family: one md5 per shingle instead of
    one per (shingle, band), which is the dominant cost at crawl scale.
    """
    sh = shingles(df, n=n).withColumn(
        "h", shingle_hash(F.col("shingle")) % MINHASH_P)
    # one aggregate per band over the SHINGLE rows, exploded to (band,
    # sig) only after the groupBy: the former explode-then-group shape
    # shuffled n_bands× the shingle count; this shape shuffles the
    # shingles once (map-side partial min) and emits docs × n_bands rows
    aggs = [F.min(((F.lit(i) * 2 + 1) * F.col("h") + F.lit(i)) % MINHASH_P)
            .alias(f"_s{i}") for i in range(n_bands)]
    per_doc = sh.groupBy("doc_id").agg(*aggs)
    return per_doc.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"_s{i}") for i in range(n_bands)]))
        .alias("band", "sig"))


def minhash_lsh_pairs(df: DataFrame, n_bands: int = 8, min_bands: int = 2,
                      n: int = 3, max_bucket: int = 1000) -> DataFrame:
    """LSH candidate pairs: docs agreeing on ≥ min_bands band signatures.

    ``max_bucket`` drops degenerate buckets (boilerplate collisions) before
    any pairs are generated — the skew guard that matters at crawl scale.

    Shape (round-4 rework, was persist + self-join): the signature rows
    are exchanged ONCE on (band, sig) and that exchange is reused by
    every consumer —

      sizes   = groupBy(band, sig).count, filtered to 2..max_bucket
      capped  = sig ⋈ sizes                (ReusedExchange, same keys)
      buckets = capped.groupBy(band, sig).sort_array(collect_list(doc_id))
                                           (already partitioned: no new
                                            exchange)
      pairs   = per bucket, posexplode + slice → (id_a < id_b) streams
                out of whole-stage codegen with no k² array ever
                materialized per row (each of the k exploded rows carries
                one O(k) slice, k ≤ max_bucket)
      result  = pairs.groupBy(id_a, id_b).count ≥ min_bands

    vs the old shape this removes the MEMORY_AND_DISK persist of the
    signature table and the two extra signature-sized shuffles of the
    self-join; the only data-sized exchanges left are the shingle
    groupBy inside minhash_signatures and the single (band, sig)
    exchange.  The size pre-filter runs BEFORE collect_list so a
    degenerate boilerplate bucket never builds its array in an
    aggregation buffer (collect of a 10^7-doc bucket would be an ~80 MB
    single-key buffer; with the cap it is dropped at the count stage,
    which is plain partial-aggregated counting).
    """
    sig = minhash_signatures(df, n_bands, n)
    sizes = (sig.groupBy("band", "sig").agg(F.count("*").alias("bs"))
             .filter((F.col("bs") >= 2) & (F.col("bs") <= max_bucket))
             .drop("bs"))
    capped = sig.join(sizes, ["band", "sig"])
    buckets = (capped.groupBy("band", "sig")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids")))
    lefts = buckets.select(
        F.posexplode("ids").alias("i", "id_a"), "ids")
    pairs = lefts.select(
        "id_a",
        F.explode(F.expr("slice(ids, i + 2, size(ids) - i - 1)"))
        .alias("id_b"))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.count("*").alias("bands"))
            .filter(F.col("bands") >= min_bands))


def simhash_groups(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Docs sharing an identical 64-bit simhash (hamming-0 near-dups)."""
    from .textops import simhash64
    sig = df.select(F.col(id_col).alias("doc_id"),
                    simhash64(F.col(text_col)).alias("simhash"))
    return (sig.groupBy("simhash")
            .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("keeper"))
            .filter(F.col("cnt") > 1))


def contamination_overlap(df: DataFrame, benchmark: DataFrame,
                          n: int = 13, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Benchmark decontamination signal: per-document fraction of distinct
    word n-grams that also appear in a benchmark/eval corpus (the
    Gopher/GPT-3 style 13-gram overlap check a training pipeline runs
    before any eval set is trusted).

    Returns (doc_id, n_grams, hits, overlap_frac); filter on
    ``overlap_frac`` to drop contaminated docs.  Docs too short to have a
    single n-gram are kept with n_grams = 0 and overlap_frac = 0.0 (they
    cannot be contaminated at this n).

    Spark shape: the corpus shingle explode is a straight flatMap (no
    shuffle); the benchmark side is collapsed to DISTINCT n-grams and
    broadcast (eval suites are tiny next to a crawl), so the probe join
    is map-side; ONE groupBy(doc_id) with map-side partial aggregation
    produces both the size and the hit count in a single pass — one
    data-sized shuffle total, no persist.  At 10^12 docs this is the
    same shape as lang_id + one aggregate.
    """
    doc_sh = shingles(df, id_col=id_col, text_col=text_col, n=n)
    bench_sh = (shingles(benchmark, id_col=id_col, text_col=text_col, n=n)
                .select("shingle").distinct()
                .withColumn("__hit", F.lit(1)))
    marked = doc_sh.join(F.broadcast(bench_sh), "shingle", "left")
    per_doc = (marked.groupBy("doc_id")
               .agg(F.count("*").alias("n_grams"),
                    F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                    .alias("hits")))
    base = df.select(F.col(id_col).alias("doc_id"))
    return (base.join(per_doc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                    F.coalesce("hits", F.lit(0)).alias("hits"))
            .withColumn("overlap_frac", F.round(
                F.when(F.col("n_grams") > 0,
                       F.col("hits") / F.col("n_grams"))
                .otherwise(F.lit(0.0)), 6)))


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         max_iter: int = 25) -> DataFrame:
    """The KEEP side of fuzzy dedup, end to end: given near-dup pair
    edges (minhash_lsh_pairs / embedding_near_dups_lsh output), cluster
    them into connected components and keep exactly one document per
    component — the minimum id (every singleton, i.e. any doc in no
    pair, survives untouched).

    This is the step that turns a pair list into a training corpus:
    RefinedWeb/SlimPajama-style "drop all but one per duplicate
    cluster".

    Spark shape: components via pointer-jumping (O(log diameter) rounds,
    see near_dup_components), then the non-canonical ids — a table no
    bigger than the pair list — anti-join the corpus.  With AQE on, a
    small drop-set broadcasts; at crawl scale it hash-joins on the id.
    Rows and columns of ``df`` pass through unchanged.
    """
    comp = near_dup_components(pairs, max_iter=max_iter)
    losers = (comp.filter(F.col("id") != F.col("component"))
              .select(F.col("id").alias(id_col)))
    return df.join(losers, id_col, "left_anti")


def remove_repeated_passages(df: DataFrame, min_count: int = 2,
                             sep: str = "\n", text_col: str = "text",
                             id_col: str = "doc_id",
                             drop_empty: bool = True) -> DataFrame:
    """CCNet-style boilerplate removal: delete every passage (text split
    on ``sep``, typically a line or paragraph) that occurs at least
    ``min_count`` times ACROSS THE WHOLE CORPUS, then reassemble each
    document from its surviving passages in original order.

    Nav bars, cookie banners, and footers repeat across a crawl while
    real content doesn't — corpus-frequency passage removal is the
    content-extraction pass CCNet/RefinedWeb run before any
    document-level dedup.  Empty passages (separator runs) are preserved
    verbatim: they carry document structure, not boilerplate.  Documents
    whose every passage was boilerplate are dropped when ``drop_empty``
    (CCNet behavior) or kept with empty text otherwise.

    Returns ``df``'s columns unchanged, with ``text_col`` rewritten.

    Spark shape: the passage explode is a flatMap (no shuffle); the
    corpus frequency count is ONE groupBy on md5(passage) with map-side
    partial agg (32-hex keys shuffle, never the passage bytes); the
    hot-set probe is a hash equijoin on that same md5 (AQE broadcasts it
    when the boilerplate set is small; at crawl scale it stays a
    sort-merge join — the hot set is unbounded, forcing broadcast would
    OOM); reassembly is one groupBy(doc) of (pos, passage) structs.
    Three shuffles total, each data- or count-sized, no persist, no
    Python.
    """
    parts = F.split(F.col(text_col), "\\Q" + sep + "\\E", -1)
    exploded = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(parts).alias("__pos", "__passage"))
    hot = (exploded.filter(F.col("__passage") != "")
           .groupBy(F.md5("__passage").alias("__h"))
           .agg(F.count("*").alias("__cnt"))
           .filter(F.col("__cnt") >= min_count)
           .select("__h"))
    kept = (exploded
            .join(hot.withColumn("__dup", F.lit(1)),
                  F.md5(F.col("__passage")) == F.col("__h"), "left")
            .filter(F.col("__dup").isNull())
            .select("__id", "__pos", "__passage"))
    rebuilt = (kept.groupBy("__id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("__pos", "__passage"))),
                       lambda s: s["__passage"]),
                   sep).alias("__text")))
    others = df.select(F.col(id_col).alias("__id"),
                       *[c for c in df.columns if c != text_col])
    joined = others.join(rebuilt, "__id",
                         "inner" if drop_empty else "left")
    return joined.select(*[
        F.coalesce("__text", F.lit("")).alias(text_col) if c == text_col
        else F.col(c)
        for c in df.columns])


def duplicate_spans(df: DataFrame, k: int = 8, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """ExactSubstr-style duplicated-span detection (the Lee et al. 2022
    "Deduplicating Training Data" primitive, k-gram-marking formulation):
    for every document, the maximal token spans covered by word k-grams
    that occur ≥ 2 times ACROSS THE CORPUS (including repeats inside one
    document).  Returns ``(doc_id, span_start, span_end)`` — 0-based
    inclusive token indices — one row per merged span; a downstream
    remover can cut exactly these ranges out of the token stream.

    Spark shape (each stage bounded at 10^12 docs): the token array is
    materialized once (the shingles() lesson — never inline split() into
    a per-element lambda); k-gram extraction is a flatMap; the corpus
    count is ONE map-side-combinable groupBy on md5(gram) (32-hex
    shuffle keys, never gram bytes); the hot-set probe is a hash
    equijoin (AQE broadcasts it when small); span merging is
    gaps-and-islands per document — the window partitions by doc, so
    its sort is bounded by document length, not corpus size.  Two
    k-gram starts i < j belong to one span iff j − i ≤ k (their
    [i, i+k−1] ranges overlap or touch end-to-start).
    """
    toks_df = df.select(F.col(id_col).alias("doc_id"),
                        F.split(F.col(text_col), " ").alias("__toks"))
    toks = F.col("__toks")
    grams = F.transform(
        toks,
        lambda x, i: F.when(
            i <= F.size(toks) - k,
            F.concat_ws(" ", *[F.element_at(toks, i + j + 1)
                               for j in range(k)])))
    pos = (toks_df.select("doc_id",
                          F.posexplode(grams).alias("pos", "gram"))
           .filter(F.col("gram").isNotNull()))
    hot = (pos.groupBy(F.md5("gram").alias("__h"))
           .agg(F.count("*").alias("__c"))
           .filter(F.col("__c") >= 2).select("__h"))
    dup = (pos.join(hot, F.md5(F.col("gram")) == F.col("__h"))
           .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (dup.withColumn(
        "__new", F.when(F.col("pos") - F.lag("pos").over(w) <= k,
                        F.lit(0)).otherwise(F.lit(1)))
        .withColumn("__isl", F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0))))
    return (isl.groupBy("doc_id", "__isl")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + (k - 1)).alias("span_end"))
            .select("doc_id", "span_start", "span_end"))


def duplicate_spans_sql(src: str, k: int = 8, text_expr: str = "text",
                        id_expr: str = "doc_id") -> str:
    """DuckDB oracle for :func:`duplicate_spans` (same k-gram marking,
    same gaps-and-islands merge)."""
    return f"""
        WITH t AS (SELECT {id_expr} AS doc_id,
                          string_split({text_expr}, ' ') AS toks
                   FROM {src}),
        g AS (SELECT doc_id, i - 1 AS pos,
                     array_to_string(toks[i:i+{int(k) - 1}], ' ') AS gram
              FROM t, unnest(generate_series(1, len(toks) - {int(k)} + 1))
                       AS u(i)),
        hot AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        d AS (SELECT doc_id, pos FROM g
              WHERE gram IN (SELECT gram FROM hot)),
        m AS (SELECT doc_id, pos,
                     CASE WHEN pos - lag(pos) OVER
                          (PARTITION BY doc_id ORDER BY pos) <= {int(k)}
                          THEN 0 ELSE 1 END AS nw
              FROM d),
        s AS (SELECT doc_id, pos,
                     sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS isl
              FROM m)
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + {int(k) - 1} AS span_end
        FROM s GROUP BY doc_id, isl
    """


def remove_duplicate_spans(df: DataFrame, spans: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """ExactSubstr duplicated-span REMOVAL — the second half of the Lee
    et al. 2022 pipeline that :func:`duplicate_spans` starts: cut the
    given ``(doc_id, span_start, span_end)`` token ranges (0-based,
    inclusive) out of each document's whitespace token stream and
    reassemble the survivors in order, single-space joined.  Documents
    with no spans pass through byte-identical; a fully-covered document
    keeps its row with ``text = ''`` (drop it downstream with a quality
    filter if desired).  Overlapping or touching spans are tolerated —
    a token is deleted iff ANY span covers it.

    Reassembly is exact on single-space-separated text (what
    ``duplicate_spans`` tokenizes and what ``normalize_text`` produces);
    multi-space runs inside a SPANNED document collapse to one space.

    Spark shape: spans fold to one array per document (bounded by
    doc_len/k structs — ONE map-side-combinable groupBy on doc_id), one
    hash equijoin back to the docs (AQE broadcasts a small span set),
    then a map-only higher-order-function filter: token i survives iff
    no span covers i.  No UDF, no window, per-doc cost
    O(tokens × spans_per_doc).
    """
    sp = (spans.groupBy(F.col("doc_id").alias("__sid"))
          .agg(F.collect_list(F.struct(
              F.col("span_start").cast("long").alias("s"),
              F.col("span_end").cast("long").alias("e"))).alias("__spans")))
    joined = df.join(sp, F.col(id_col) == F.col("__sid"), "left")
    toks = F.split(F.col(text_col), " ")
    spans_col = F.col("__spans")
    kept = F.filter(toks, lambda t, i: ~F.exists(
        spans_col, lambda s: (s["s"] <= i) & (i <= s["e"])))
    new_text = (F.when(spans_col.isNull(), F.col(text_col))
                .otherwise(F.array_join(kept, " ")))
    out_cols = [new_text.alias(text_col) if c == text_col else F.col(c)
                for c in df.columns]
    return joined.select(*out_cols)


def duplicate_span_removal_sql(src: str, k: int = 8,
                               text_expr: str = "text",
                               id_expr: str = "doc_id") -> str:
    """DuckDB oracle for ``remove_duplicate_spans(df,
    duplicate_spans(df, k))`` — detection and removal composed over one
    source, the end-to-end ExactSubstr pass."""
    spans = duplicate_spans_sql(src, k, text_expr, id_expr)
    return f"""
        WITH spans AS ({spans}),
        t AS (SELECT {id_expr} AS doc_id, {text_expr} AS text,
                     string_split({text_expr}, ' ') AS toks FROM {src}),
        tk AS (SELECT doc_id, i - 1 AS pos, toks[i] AS w
               FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
        kept AS (SELECT tk.doc_id, tk.pos, tk.w FROM tk
                 WHERE NOT EXISTS (SELECT 1 FROM spans s
                       WHERE s.doc_id = tk.doc_id
                         AND tk.pos BETWEEN s.span_start AND s.span_end)),
        re AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text
               FROM kept GROUP BY doc_id)
        SELECT t.doc_id,
               CASE WHEN t.doc_id IN (SELECT DISTINCT doc_id FROM spans)
                    THEN coalesce(re.text, '') ELSE t.text END AS text
        FROM t LEFT JOIN re ON t.doc_id = re.doc_id
    """


def dedup_url_keep_latest(df: DataFrame, url_col: str = "url",
                          ts_col: str = "warc_ts",
                          id_col: str = "doc_id") -> DataFrame:
    """URL-level snapshot dedup: keep the NEWEST capture per canonical
    URL — the very first dedup pass of a multi-snapshot crawl (Common
    Crawl re-fetches the same page every dump; training wants one copy,
    the freshest).  Ties on the timestamp break deterministically by the
    larger ``id_col``.

    Rows and columns pass through unchanged (one survivor per canonical
    URL).  Canonicalization is :func:`dumpster.textops.canonical_url`
    (case, fragment, default ports), so ``http://A.com/x#f`` and
    ``http://a.com:80/x`` collapse to one key.

    Spark shape: ONE groupBy on the canonical URL with
    ``max_by(struct(row), struct(ts, id))`` — partial aggregation runs
    map-side (each task keeps one candidate row per key before the
    shuffle), so the exchange carries at most one row per (task, URL):
    strictly cheaper than the window-function formulation, which
    shuffles every row and then sorts.  Host-skewed URLs are fine — the
    key is the full URL, not the host.
    """
    from .textops import canonical_url
    canon = canonical_url(F.col(url_col))
    return (df.groupBy(canon.alias("__canon"))
            .agg(F.max_by(F.struct(*df.columns),
                          F.struct(F.col(ts_col), F.col(id_col)))
                 .alias("__r"))
            .select("__r.*"))


def dedup_against_store(spark, df: DataFrame, store_dir: str,
                        text_col: str = "text",
                        fp_col: str = "fp") -> DataFrame:
    """Incremental crawl-over-crawl dedup: drop every document whose
    md5(text) fingerprint already exists in a previously ENCODED
    dumpster store (the fingerprint ledger a multi-snapshot pipeline
    keeps between dumps).  Rows and columns of ``df`` pass through.

    This is the integration op the engine's pruned reads exist for: the
    ledger decode is a ONE-COLUMN ranged read (`decode_table(columns=
    [fp_col])` — other columns' bytes are never touched, ~0.04 % of
    chunk bytes in `pruned_scan_io`), followed by a hash anti-join on
    the 32-hex fingerprint.  At 10^12 docs the ledger side is
    fingerprints only — no text bytes move; AQE broadcasts it when a
    dump's ledger is small.

    NULL semantics (pinned, ADVICE r4): a row with NULL ``text_col``
    has no fingerprint, so it can never match the ledger and ALWAYS
    survives; NULL ledger fingerprints match nothing and are dropped
    up front.  This is the NOT EXISTS formulation — the oracle must use
    NOT EXISTS (not NOT IN, whose NULL propagation silently deletes
    every NULL-text row).
    """
    from .engine import decode_table
    seen = (decode_table(spark, store_dir, columns=[fp_col])
            .filter(F.col(fp_col).isNotNull())
            .select(F.col(fp_col).alias("__seen_fp")).distinct())
    return (df.join(seen,
                    F.md5(F.col(text_col)) == F.col("__seen_fp"),
                    "left_anti"))


def near_dup_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pair edges — the clustering step
    of a fuzzy-dedup pipeline (pairs from minhash_lsh_pairs /
    embedding_near_dups_lsh; keep component == doc_id as the canonical
    survivor, drop the rest).

    Algorithm: min-label propagation with POINTER JUMPING.  Every node
    starts labelled with itself; each round (a) pulls the minimum label
    across graph neighbors, then (b) shortcuts through the label table
    itself (label ← label(label)), so label chains halve every round and
    convergence is O(log diameter) — a 1M-hop chain converges in ~20
    rounds, not 1M (ADVICE r2: plain one-hop pulls silently returned
    WRONG labels on chains deeper than max_iter).  If the fixed-point is
    still not reached after ``max_iter`` rounds the function RAISES
    rather than returning incorrect clusters.

    Spark shape per round: one shuffle for the neighbor pull, one for the
    pointer jump, a tiny existence check for convergence; labels persist
    between rounds and lineage is cut with localCheckpoint so the plan
    stays constant-size (the classic iterative-algorithm trap).  At 10^12
    docs the label table is (doc_id, label) longs — small next to the
    corpus.  Note: uses the shared one-slot dedup cache — starting
    another dedup op before materializing this result forces a recompute
    (see release_dedup_cache).

    Returns (id, component) where component = min doc_id reachable.
    """
    # ids keep their REAL type: min-label propagation only needs an
    # orderable id, and a hard cast("long") either aborted on string
    # doc ids (ANSI CAST_INVALID_INPUT) or — ANSI off — nulled every
    # edge and silently returned the corpus undeduplicated (round-5
    # review finding).  id_b takes id_a's type: the symmetric union below
    # matches columns by position, and mismatched types (int vs long)
    # would silently widen every returned id
    edges = pairs.select(
        F.col("id_a").alias("src"),
        F.col("id_b").cast(pairs.schema["id_a"].dataType).alias("dst"))
    sym = edges.unionAll(edges.select(F.col("dst").alias("src"),
                                      F.col("src").alias("dst")))
    sym = _persist_tracked(sym)
    labels = (sym.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    labels = labels.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        prev = labels
        nbr_min = (sym.join(prev.withColumnRenamed("id", "dst")
                            .withColumnRenamed("label", "nl"), "dst")
                   .groupBy("src").agg(F.min("nl").alias("nbr_label")))
        pulled = (prev.join(nbr_min.withColumnRenamed("src", "id"),
                            "id", "left")
                  .select("id", F.least(
                      F.col("label"),
                      F.coalesce(F.col("nbr_label"), F.col("label")))
                      .alias("label")))
        # pointer jump: label ← pulled-label of the label node.  Labels
        # are always node ids present in the table, and min-reachability
        # is transitive, so the shortcut stays within the component.
        hop = pulled.select(F.col("id").alias("label"),
                            F.col("label").alias("gl"))
        labels = (pulled.join(hop, "label", "left")
                  .select("id", F.coalesce(F.col("gl"), F.col("label"))
                          .alias("label"))
                  .localCheckpoint(eager=True))
        changed = (labels.join(prev.withColumnRenamed("label", "old"), "id")
                   .filter(F.col("label") != F.col("old")).limit(1).count())
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"near_dup_components did not converge in {max_iter} rounds "
            f"(component deeper than 2^{max_iter} hops?) — returning "
            f"partial labels would be silently wrong; raise max_iter")
    return labels.select(F.col("id"), F.col("label").alias("component"))

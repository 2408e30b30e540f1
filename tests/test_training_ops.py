"""Unit semantics for the training-data-pipeline operators."""

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from dumpster import dedup, simsearch, textops
from dumpster.multimodal import decode_media, extract_media_meta, media_features


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # exact dup
        Row(doc_id=3, text="the quick brown fox jumps over a sleepy dog"),  # near dup
        Row(doc_id=4, text="completely different words entirely here now"),
        Row(doc_id=5, text="la casa de los el una papel que"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dup_groups(docs):
    g = dedup.exact_dup_groups(docs).collect()
    assert len(g) == 1
    assert g[0]["cnt"] == 2 and g[0]["keeper"] == 1


def test_dedup_keep_first(docs):
    out = dedup.dedup_keep_first(docs)
    assert out.count() == 4
    assert out.filter(F.col("doc_id") == 2).count() == 0


def test_shingles_are_distinct_ngrams(docs):
    sh = dedup.shingles(docs.filter(F.col("doc_id") == 1), n=3).collect()
    got = {r["shingle"] for r in sh}
    assert "the quick brown" in got and "the lazy dog" in got
    assert len(got) == 7  # 9 tokens → 7 shingles, all distinct here


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert got[(1, 2)] == 1.0          # exact dup
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert (1, 4) not in got


def test_minhash_lsh_pairs(docs):
    pairs = dedup.minhash_lsh_pairs(docs, n_bands=8, min_bands=2).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in ids               # identical docs agree on all bands
    assert all(a < b for a, b in ids)


def test_simhash_identical_texts_collide(docs):
    g = dedup.simhash_groups(docs).collect()
    assert any(r["cnt"] >= 2 and r["keeper"] == 1 for r in g)


def test_lang_id_marker_words(docs):
    out = {r["doc_id"]: r["lang_guess"]
           for r in textops.lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] in ("es", "pt")      # spanish markers dominate
    assert out[4] == "und"


def test_quality_score_shape(docs):
    q = textops.quality_score(docs).collect()
    r1 = next(r for r in q if r["doc_id"] == 1)
    assert r1["n_tokens"] == 9 and r1["keep"] == 1


def test_fingerprint_deterministic(spark, docs):
    a = {r["doc_id"]: r["fp"] for r in
         docs.select("doc_id", textops.doc_fingerprint("text").alias("fp")).collect()}
    assert a[1] == a[2] and a[1] != a[3]


def test_brute_topk_cosine(spark):
    rows = [Row(vec_id=i, embedding=[float(i == j) for j in range(4)])
            for i in range(4)]
    rows.append(Row(vec_id=4, embedding=[1.0, 0.001, 0.0, 0.0]))
    emb = spark.createDataFrame(rows)
    out = simsearch.brute_topk(emb, query_ids=[0], k=2)
    got = [(r["neighbor_id"], r["sim"]) for r in out.collect()]
    assert got[0][0] == 4 and got[0][1] > 0.99   # near-parallel vector first


def test_lsh_buckets_cover_all_vectors(spark):
    rng = np.random.default_rng(3)
    rows = [Row(vec_id=i, embedding=rng.normal(size=8).tolist())
            for i in range(50)]
    emb = spark.createDataFrame(rows)
    out = simsearch.lsh_bucket_candidates(emb, n_planes=4, seed=1)
    assert out.agg(F.sum("n_vectors")).collect()[0][0] == 50


def test_media_meta_sniffs_magic(spark):
    rows = [Row(id=1, blob=b"\x89PNG\r\n" + b"x" * 10),
            Row(id=2, blob=b"\xff\xd8\xff\xe0junk"),
            Row(id=3, blob=b"<html><body>"),
            Row(id=4, blob=None)]
    df = spark.createDataFrame(rows, "id long, blob binary")
    out = {r["id"]: (r["format"], r["n_bytes"])
           for r in extract_media_meta(df, "id", "blob").collect()}
    assert out[1][0] == "png" and out[2][0] == "jpeg" and out[3][0] == "html"
    assert out[4] == (None, None)


def test_media_decode_stub_contract(spark):
    with pytest.raises(NotImplementedError):
        decode_media(b"abc")
    v = decode_media(b"abcdefgh" * 8, fake=True, dim=8)
    assert v.shape == (8,) and v.dtype == np.float32
    rows = [Row(id=1, blob=b"\x01" * 64), Row(id=2, blob=b"\x02" * 64)]
    df = spark.createDataFrame(rows, "id long, blob binary")
    feats = media_features(df, "id", "blob", dim=8).collect()
    assert all(len(r["features"]) == 8 for r in feats)


def test_near_dup_components_chain_and_isolates(spark):
    """Chains collapse to one component (transitivity beyond direct
    pairs); disconnected nodes keep their own label."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a long, id_b long")
    out = {r["id"]: r["component"]
           for r in dedup.near_dup_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_keep_canonical_min_id_survives(spark, docs):
    """Per near-dup component the min id survives; docs in no pair pass
    through untouched, with all their columns."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = dedup.dedup_keep_canonical(docs, pairs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 4, 5]
    assert kept.columns == docs.columns


def test_contamination_overlap_fracs(spark):
    """Benchmark doc scores 1.0; disjoint doc 0.0; partial overlap in
    between; a doc too short for a single n-gram is kept at 0/0.0."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e"),            # == benchmark text → 1.0
         (2, "z y x w v u"),          # disjoint → 0.0
         (3, "a b c q r s"),          # shares exactly 'a b c' (1 of 4)
         (4, "a b")],                 # too short for a 3-gram
        "doc_id long, text string")
    bench = spark.createDataFrame([(100, "a b c d e")],
                                  "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.contamination_overlap(corpus, bench, n=3).collect()}
    assert out[1].overlap_frac == 1.0 and out[1].hits == out[1].n_grams == 3
    assert out[2].overlap_frac == 0.0 and out[2].n_grams == 4
    assert out[3].hits == 1 and out[3].n_grams == 4
    assert out[3].overlap_frac == 0.25
    assert out[4].n_grams == 0 and out[4].overlap_frac == 0.0


def test_host_blocklist_suffix_semantics(spark):
    """Equality and subdomain matches block; label-boundary look-alikes
    don't; the most specific rule wins; userinfo/port/case stripped."""
    docs_url = spark.createDataFrame(
        [(1, "http://example.com/a"),             # exact
         (2, "https://deep.sub.example.com/b"),   # subdomain
         (3, "http://notexample.com/c"),          # look-alike → kept
         (4, "HTTP://User@WWW.Example.COM:8080"), # case/userinfo/port
         (5, "http://a.example5.com/x"),          # specific rule
         (6, "http://other.org/")],
        "doc_id long, url string")
    bl = spark.createDataFrame(
        [("Example.com",), ("example5.com",), ("a.example5.com",)],
        "domain string")
    m = {r.doc_id: r for r in
         textops.host_suffix_matches(docs_url, bl).collect()}
    assert sorted(m) == [1, 2, 4, 5]
    assert m[2].host == "deep.sub.example.com"
    assert m[4].host == "www.example.com"
    assert m[5].rule == "a.example5.com"     # longest match wins
    kept = textops.host_blocklist_filter(docs_url, bl)
    assert sorted(r.doc_id for r in kept.collect()) == [3, 6]
    assert kept.columns == docs_url.columns


def test_remove_repeated_passages_semantics(spark):
    """Corpus-hot passages vanish everywhere, order and empty passages
    survive, all-boilerplate docs drop (or keep '' with drop_empty=False),
    non-text columns pass through."""
    rows = [(1, "intro one\nFOOTER\nbody of one", "a"),
            (2, "intro two\nFOOTER\nbody of two", "b"),
            (3, "solo passage\n\nFOOTER", "c"),       # empty passage kept
            (4, "FOOTER", "d"),                        # all hot → dropped
            (5, "body of one", "e")]                   # hot via doc 1
    df = spark.createDataFrame(rows, "doc_id long, text string, src string")
    out = {r.doc_id: r for r in
           dedup.remove_repeated_passages(df, min_count=2).collect()}
    assert sorted(out) == [1, 2, 3]
    # 'body of one' occurs in docs 1 and 5 → hot → removed from both
    assert out[1].text == "intro one"
    assert out[2].text == "intro two\nbody of two"
    assert out[3].text == "solo passage\n"             # empty line preserved
    assert out[1].src == "a"                           # other cols intact
    kept = dedup.remove_repeated_passages(df, min_count=2, drop_empty=False)
    m = {r.doc_id: r.text for r in kept.collect()}
    assert m[4] == "" and m[5] == "" and sorted(m) == [1, 2, 3, 4, 5]
    assert kept.columns == df.columns


def test_dedup_url_keep_latest(spark):
    """Canonicalization collapses case/:80/fragment variants; the newest
    ts wins; ts ties break on the larger doc_id."""
    rows = [(1, "http://a.com/x", 100),
            (2, "HTTP://A.com:80/x#frag", 200),   # same canon, newer → wins
            (3, "http://a.com/y", 100),
            (4, "http://a.com/y", 100),           # tie → larger id wins
            (5, "https://b.org/", 50)]
    df = spark.createDataFrame(rows, "doc_id long, url string, ts long")
    out = sorted(r.doc_id for r in
                 dedup.dedup_url_keep_latest(df, ts_col="ts").collect())
    assert out == [2, 4, 5]


def test_stratified_sample_determinism_and_rates(spark):
    """rate 1.0 keeps every row of the stratum, 0.0 drops all, unlisted
    strata use the default; the filter is a pure function of the key."""
    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
         .when(F.col("id") % 3 == 1, "de").otherwise("xx").alias("lang"))
    rates = {"en": 1.0, "de": 0.5}
    s = textops.stratified_sample(df, "lang", rates, default_rate=0.0)
    got = s.groupBy("lang").count().collect()
    c = {r.lang: r["count"] for r in got}
    assert c.get("en") == df.filter("lang = 'en'").count()   # 1.0 → all
    assert "xx" not in c                                     # default 0.0
    assert 0 < c.get("de", 0) < df.filter("lang = 'de'").count()
    # determinism: same ids on a re-run and under a different partitioning
    ids1 = sorted(r.doc_id for r in s.collect())
    ids2 = sorted(r.doc_id for r in textops.stratified_sample(
        df.repartition(17), "lang", rates, default_rate=0.0).collect())
    assert ids1 == ids2


def test_sessionize_gap_semantics(spark):
    """Events > gap apart start a new session; ties order by event_id;
    numbering restarts per user; columns pass through + session_id."""
    from dumpster import pipeline
    rows = [(1, 10, "2024-01-01 00:00:00"),
            (2, 10, "2024-01-01 00:10:00"),    # within 30min gap
            (3, 10, "2024-01-01 01:00:00"),    # 50min → new session
            (4, 11, "2024-01-01 00:00:00"),
            (5, 11, "2024-01-01 00:30:00.000001")]  # 1µs past gap → new
    df = spark.createDataFrame(rows, "event_id long, user_id long, s string") \
        .select("event_id", "user_id", F.col("s").cast("timestamp").alias("ts"))
    out = {r.event_id: r.session_id for r in
           pipeline.sessionize(df, gap_seconds=1800).collect()}
    assert out == {1: "10-1", 2: "10-1", 3: "10-2", 4: "11-1", 5: "11-2"}


def test_select_token_budget_paths(spark):
    """Partial stratum (crossing doc included), over-budget stratum kept
    whole, zero-budget stratum dropped, default budget, quality ties
    break on id, null quality dropped."""
    rows = [  # (id, lang, quality, tokens)
        (1, "en", 0.9, 4), (2, "en", 0.8, 4), (3, "en", 0.7, 4),
        (4, "de", 0.5, 100),                       # budget 1000 > total
        (5, "fr", 0.9, 10),                        # budget 0 → dropped
        (6, "es", 0.9, 3), (7, "es", 0.9, 3),      # tie → id asc
        (8, "es", 0.1, 3),
        (9, "en", None, 1),                        # null quality dropped
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, quality double, n_tokens long")
    out = sorted(r.doc_id for r in textops.select_token_budget(
        df, "lang", {"en": 6, "de": 1000, "fr": 0},
        default_budget=5).collect())
    # en budget 6: doc1 before=0<6 keep, doc2 before=4<6 keep (crosses),
    # doc3 before=8 drop.  es default 5: doc6 0<5, doc7 3<5, doc8 6 drop.
    assert out == [1, 2, 4, 6, 7]
    # boundary-bucket seeding: many docs, same answer as brute force
    big = spark.range(200).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang"),
        ((F.col("id") * 7919) % 100 / 100.0).alias("quality"),
        (F.col("id") % 13 + 1).alias("n_tokens"))
    got = sorted(r.doc_id for r in textops.select_token_budget(
        big, "lang", {"en": 300}, resolution=10).collect())
    from pyspark.sql import Window
    w = (Window.partitionBy("lang")
         .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    want = sorted(r.doc_id for r in big
                  .withColumn("c", F.sum("n_tokens").over(w))
                  .filter(F.col("c") - F.col("n_tokens") < 300).collect())
    assert got == want and len(got) > 10


def test_top_k_words(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog"), (2, "a cat\tand a   hat")],
        "doc_id long, text string")
    out = [(r.word, r.cnt) for r in textops.top_k_words(df, k=3).collect()]
    assert out == [("a", 2), ("and", 2), ("cat", 2)]   # ties → word asc


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [(1, "  \tA\x00B\r\nline  two\t x \n \n \n\n end  ")],
        "doc_id long, text string")
    out = textops.normalize_text(df).collect()[0]
    assert out.text == "AB\nline two x\n\nend"
    assert out.doc_id == 1


def test_pack_sequences_prefix_sum(spark):
    """Two-phase distributed prefix sum equals the single global window;
    zero-token docs pin to seq_first; null token counts drop; straddling
    docs span seq_first..seq_last."""
    from pyspark.sql import Window
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 97 == 3, None)
         .otherwise((F.col("id") * 31) % 70).alias("n_tokens"))
    got = textops.pack_sequences(df, seq_len=100, num_partitions=7)
    rows = {r.doc_id: r for r in got.collect()}
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    want = (df.filter(F.col("n_tokens").isNotNull())
            .withColumn("off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
            .collect())
    assert len(rows) == len(want)
    for r in want:
        g = rows[r.doc_id]
        assert g.tok_offset == r.off
        assert g.seq_first == r.off // 100
        assert g.seq_last == max(r.off // 100,
                                 (r.off + r.n_tokens - 1) // 100)
    zero = [r for r in want if r.n_tokens == 0][0]
    assert rows[zero.doc_id].seq_last == rows[zero.doc_id].seq_first
    straddler = [rows[r.doc_id] for r in want
                 if rows[r.doc_id].seq_last > rows[r.doc_id].seq_first]
    assert straddler, "fixture must contain window-straddling docs"


def test_duplicate_spans_semantics(spark):
    """k-grams duplicated across (or within) the corpus mark token
    ranges; overlapping/adjacent ranges merge; unique text yields no
    spans; span indices are 0-based inclusive."""
    #          tokens 0..9
    a = "a b c d e X Y Z w v"          # shares "a b c d e"… with b
    b = "a b c d e p q r s t"
    c = "n o n e m a t c h 1"          # unique
    d = "u u u u u u u u u u"          # self-repeating k-grams
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, d)], "doc_id long, text string")
    out = sorted((r.doc_id, r.span_start, r.span_end) for r in
                 dedup.duplicate_spans(df, k=5).collect())
    # docs 1/2 share exactly one 5-gram "a b c d e" at pos 0 → span 0..4
    # doc 4: 5-grams at 0..5 all identical → one merged span 0..9
    assert out == [(1, 0, 4), (2, 0, 4), (4, 0, 9)]
    # two disjoint shared blocks in one doc stay two spans
    e = "a b c d e k k k a b c d e"    # shared 5-gram at 0 and at 8
    df2 = spark.createDataFrame(
        [(1, a), (2, b), (5, e)], "doc_id long, text string")
    got = sorted((r.span_start, r.span_end) for r in
                 dedup.duplicate_spans(df2, k=5)
                 .filter("doc_id = 5").collect())
    assert got == [(0, 4), (8, 12)]


def test_dedup_against_store(spark, tmp_path):
    """Docs whose md5(text) is in the encoded fingerprint ledger drop;
    the ledger decode is a pruned one-column read; columns pass through."""
    from dumpster.engine import encode_table
    docs = spark.createDataFrame(
        [(1, "seen one", "a"), (2, "fresh two", "b"),
         (3, "seen three", "c"), (4, "fresh four", "d")],
        "doc_id long, text string, src string")
    ledger = docs.filter("doc_id in (1, 3)").select(
        F.md5(F.col("text")).alias("fp"))
    store = str(tmp_path / "fp_store")
    encode_table(ledger, store, mode="local", chunk_rows=1024)
    out = dedup.dedup_against_store(spark, docs, store)
    assert sorted(r.doc_id for r in out.collect()) == [2, 4]
    assert out.columns == docs.columns

"""Column pruning through the pushdown view via the SQL front door
(VERDICT r3 missing #1 / next-round #2).

Reference parity: ParquetHiveSerDe column projection
(HiveClient.java:103-108) — a narrow SELECT must read only the selected
columns' bytes, transparently from SQL.
"""

import glob
import os

import pyspark.sql.functions as F
import pytest

from dumpster import sqlfront
from dumpster.engine import encode_table, register_decoded_view


@pytest.fixture(scope="module")
def docs_view(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sqlfront"))
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    encode_table(df, out, bucket_expr=(F.col("doc_id") % 4).cast("int"),
                 n_buckets=4, chunk_rows=64, table_id="sqlfront_docs")
    register_decoded_view(spark, out, "sf_docs", pushdown=True)
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_required_columns_exact(spark, docs_view):
    need = sqlfront.required_view_columns(
        spark,
        "SELECT lang, count(*) AS n FROM sf_docs "
        "WHERE doc_id > 100 GROUP BY lang",
        {"sf_docs"})
    assert need["sf_docs"] == {"lang", "doc_id"}


def test_star_is_not_narrowed(spark, docs_view):
    need = sqlfront.required_view_columns(
        spark, "SELECT * FROM sf_docs", {"sf_docs"})
    assert need["sf_docs"] == {"doc_id", "text", "lang", "source",
                               "n_chars"}


def test_narrow_select_matches_plain_sql(spark, docs_view):
    q = ("SELECT lang, count(*) AS n, sum(n_chars) AS chars "
         "FROM sf_docs GROUP BY lang ORDER BY lang")
    assert _rows(sqlfront.sql(spark, q)) == _rows(spark.sql(q))
    # the full view must be restored afterwards
    assert set(spark.table("sf_docs").columns) == {
        "doc_id", "text", "lang", "source", "n_chars"}
    # and serve full-width queries exactly
    assert spark.sql("SELECT * FROM sf_docs").count() == 500


def test_narrow_select_with_where_matches(spark, docs_view):
    q = ("SELECT doc_id, lang FROM sf_docs "
         "WHERE doc_id BETWEEN 100 AND 200 ORDER BY doc_id")
    assert _rows(sqlfront.sql(spark, q)) == _rows(spark.sql(q))


def test_join_of_view_with_itself(spark, docs_view):
    q = ("SELECT a.lang, count(*) AS n FROM sf_docs a "
         "JOIN sf_docs b ON a.doc_id = b.doc_id "
         "GROUP BY a.lang ORDER BY a.lang")
    assert _rows(sqlfront.sql(spark, q)) == _rows(spark.sql(q))


def test_count_star_narrowed_to_sentinel(spark, docs_view):
    q = "SELECT count(*) AS n FROM sf_docs"
    assert sqlfront.sql(spark, q).collect()[0]["n"] == 500
    # the narrowing itself (the behavior in the test's name): the plan
    # walk must report at most ONE required column for a bare count(*)
    # — a strict subset of the 5-column view, which is what routes
    # sql() to a single-column registration (round-5 review finding:
    # the count alone also passes on a full-width scan)
    need = sqlfront.required_view_columns(spark, q, {"sf_docs"})
    assert "sf_docs" in need and len(need["sf_docs"]) <= 1, need


@pytest.fixture(scope="module")
def pages_view(spark, tmp_path_factory):
    """Chunks must be MUCH larger than the 64 KiB tail prefetch or a
    'ranged' read is one GET of the whole file anyway (correct at that
    size, but useless for the bytes assertion)."""
    from dumpster.synth import synth_pages
    out = str(tmp_path_factory.mktemp("sqlfront_pages"))
    df = synth_pages(spark, 20000, seed=5)
    encode_table(df, out, url_col="url", mode="salted",
                 n_buckets=2, chunk_rows=8192,
                 table_id="sqlfront_pages")
    register_decoded_view(spark, out, "sf_pages", pushdown=True)
    return out


def test_narrow_select_reads_fraction_of_bytes(spark, pages_view, tmp_path):
    """The bytes-read gate: a one-column SELECT through sqlfront.sql must
    read a small fraction of what the full-width scan reads — proof the
    ranged per-column reads engage from plain SQL."""
    def traced_bytes(run):
        d = str(tmp_path / f"trace{traced_bytes.n}")
        traced_bytes.n += 1
        os.makedirs(d)
        spark.conf.set("dumpster.io_trace", d)
        try:
            # re-register so the trace option lands in the reader
            register_decoded_view(spark, pages_view, "sf_pages",
                                  pushdown=True)
            run()
        finally:
            spark.conf.unset("dumpster.io_trace")
            register_decoded_view(spark, pages_view, "sf_pages",
                                  pushdown=True)
        read = total = 0
        for fp in glob.glob(os.path.join(d, "io-*.log")):
            for line in open(fp):
                r, t = line.split()
                read += int(r)
                total += int(t)
        assert total > 0, "trace did not engage"
        return read, total

    traced_bytes.n = 0
    narrow, total_n = traced_bytes(
        lambda: sqlfront.sql(
            spark, "SELECT lang, count(*) AS n FROM sf_pages "
                   "GROUP BY lang").collect())
    full, total_f = traced_bytes(
        lambda: spark.sql("SELECT count(DISTINCT html) AS n "
                          "FROM sf_pages").collect())
    # full scan reads ~every byte; narrow reads lang + sentinel sections
    # + one 64 KiB tail prefetch per chunk
    assert full >= 0.9 * total_f
    assert narrow < 0.3 * full, (narrow, full)


def test_unregistered_views_passthrough(spark, docs_view):
    df = spark.range(10)
    df.createOrReplaceTempView("plain_v")
    q = "SELECT count(*) AS n FROM plain_v"
    assert sqlfront.sql(spark, q).collect()[0]["n"] == 10


def test_concurrent_sql_and_register_exact(spark, docs_view, tmp_path):
    """Concurrency rail (VERDICT r4 #7): two threads hammering
    sqlfront.sql on the same view, interleaved with re-registrations of
    that view, must all return exact results — no thread may analyze
    against another thread's narrow swap, and the restore must never
    clobber a fresh registration."""
    import threading

    q1 = ("SELECT lang, count(*) AS n, sum(n_chars) AS chars "
          "FROM sf_docs GROUP BY lang ORDER BY lang")
    q2 = ("SELECT doc_id, n_chars FROM sf_docs "
          "WHERE doc_id BETWEEN 50 AND 99 ORDER BY doc_id")
    want1 = _rows(spark.sql(q1))
    want2 = _rows(spark.sql(q2))

    errors: list = []
    barrier = threading.Barrier(3)

    def run_query(q, want):
        try:
            barrier.wait(timeout=60)
            for _ in range(8):
                got = _rows(sqlfront.sql(spark, q))
                if got != want:
                    errors.append(("mismatch", q, got[:3]))
                    return
        except Exception as exc:           # noqa: BLE001
            errors.append(("raised", q, repr(exc)))

    def re_register():
        try:
            barrier.wait(timeout=60)
            for _ in range(8):
                register_decoded_view(spark, docs_view, "sf_docs",
                                      pushdown=True)
        except Exception as exc:           # noqa: BLE001
            errors.append(("raised", "register", repr(exc)))

    threads = [threading.Thread(target=run_query, args=(q1, want1)),
               threading.Thread(target=run_query, args=(q2, want2)),
               threading.Thread(target=re_register)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    # a deadlocked thread leaves errors empty — the join timeout alone
    # must not turn a hang into a green test (round-5 review finding)
    assert not any(t.is_alive() for t in threads), \
        "worker thread still running after join timeout (deadlock?)"
    assert not errors, errors
    # the registration standing at the end is full-width and exact
    assert set(spark.table("sf_docs").columns) == {
        "doc_id", "text", "lang", "source", "n_chars"}
    assert _rows(sqlfront.sql(spark, q1)) == want1

"""Persisted BM25 index (SearchIndex): parity with inline scoring,
zero per-query driver actions, append-only incremental merge, and
term-bucket partition pruning on the read path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from graphiti_spark.io.tables import TableIO
from graphiti_spark.operators.search import SearchIndex, fulltext_search
from graphiti_spark.oracle import BM25_QUERY
from graphiti_spark.plans.explain import physical_plan
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(F.col("doc_id").cast("string").alias("doc_id"), "text")
        .cache()
    )


@pytest.fixture(scope="module")
def index(spark, docs, tmp_path_factory):
    io = TableIO(spark, str(tmp_path_factory.mktemp("ftidx")))
    idx = SearchIndex(io, "doc")
    half = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    rest = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    idx.merge(half, "doc_id", "text")
    idx.merge(rest, "doc_id", "text")
    return idx


def _posting_files(idx: SearchIndex):
    root = idx.io.path(idx._t("postings"))
    out = {}
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if d.startswith("tpart=") and os.path.isdir(p):
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    fp = os.path.join(p, f)
                    out[os.path.join(d, f)] = (
                        os.stat(fp).st_size,
                        os.stat(fp).st_mtime_ns,
                    )
    return out


def test_index_matches_inline_bm25(spark, docs, index):
    inline = {
        (r.id, round(r.score, 9))
        for r in fulltext_search(docs, "doc_id", "text", BM25_QUERY, limit=50).collect()
    }
    persisted = {
        (r.id, round(r.score, 9)) for r in index.search(BM25_QUERY, limit=50).collect()
    }
    assert inline == persisted and len(inline) == 50


def test_zero_driver_actions_per_query(spark, index):
    """The read path must plan a query with NO Spark jobs (the round-1
    implementation ran two driver actions per query for N / avgdl)."""
    postings = index.postings()
    stats = index.stats()
    sc = spark.sparkContext
    sc.setJobGroup("bm25-probe", "per-query planning probe")
    try:
        df = fulltext_search(
            None, "id", "", BM25_QUERY, limit=20, postings=postings, stats=stats
        )
        _ = df.columns  # force analysis, still no job
        jobs = sc.statusTracker().getJobIdsForGroup("bm25-probe")
    finally:
        sc.setJobGroup("", "")
    assert list(jobs) == []
    assert df.limit(1).count() >= 0  # and it actually executes fine


def test_merge_is_append_only_and_idempotent(spark, docs, tmp_path_factory):
    io = TableIO(spark, str(tmp_path_factory.mktemp("ftidx2")))
    idx = SearchIndex(io, "doc")
    half = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    rest = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    idx.merge(half, "doc_id", "text")
    files1 = _posting_files(idx)
    stats1 = idx.stats().collect()[0]
    idx.merge(rest, "doc_id", "text")
    files2 = _posting_files(idx)
    # append-only: every original posting file survives byte-identical
    assert set(files1) <= set(files2)
    assert all(files2[f] == files1[f] for f in files1)
    stats2 = idx.stats().collect()[0]
    assert stats2.n_docs > stats1.n_docs
    # re-merging already-indexed docs is a no-op
    idx.merge(half, "doc_id", "text")
    assert idx.stats().collect()[0] == stats2
    assert idx.postings().count() == spark.read.parquet(
        io.path("doc_postings")
    ).count()


def test_query_prunes_term_partitions(spark, index):
    plan = physical_plan(index.search(BM25_QUERY, limit=20))
    # the postings scan carries a partition filter on the term bucket
    assert "PartitionFilters" in plan
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln and "tpart" in ln]
    assert m, f"no tpart partition filter in plan:\n{plan[:2000]}"


def test_max_df_ratio_drops_effective_stopwords(spark, docs, index):
    """VERDICT r2 #5: the optional df-cap removes ultra-high-df query
    terms from scoring (Lucene's effective-stopword behavior) — the
    result equals scoring the query WITHOUT those terms; low-df terms
    are untouched; default (None) stays exact BM25."""
    from graphiti_spark.operators.search import bm25_score, build_postings

    postings = index.postings()
    n_docs = index.stats().collect()[0].n_docs
    # find one very common and one rare term in the fixture corpus
    freq = {
        r.term: r.df
        for r in postings.groupBy("term")
        .agg(F.countDistinct("id").alias("df"))
        .collect()
    }
    common = max(freq, key=freq.get)
    rare = min((t for t in freq if freq[t] < 0.2 * n_docs), key=lambda t: freq[t])
    assert freq[common] > 0.5 * n_docs

    capped = {
        (r.id, round(r.score, 9))
        for r in index.search(f"{common} {rare}", limit=100, max_df_ratio=0.5).collect()
    }
    rare_only = {
        (r.id, round(r.score, 9))
        for r in index.search(rare, limit=100).collect()
    }
    assert capped == rare_only  # the stopword contributed nothing
    uncapped = {
        (r.id, round(r.score, 9))
        for r in index.search(f"{common} {rare}", limit=100).collect()
    }
    assert uncapped != capped  # default stays exact


def test_tombstone_delete(spark, docs, tmp_path_factory):
    io = TableIO(spark, str(tmp_path_factory.mktemp("ftidx3")))
    idx = SearchIndex(io, "doc")
    idx.merge(docs, "doc_id", "text")
    stats0 = idx.stats().collect()[0]
    top = idx.search(BM25_QUERY, limit=5).collect()
    kill = top[0].id
    idx.delete(spark.createDataFrame([(kill,)], "id string"))
    after = idx.search(BM25_QUERY, limit=5).collect()
    assert after and kill not in {r.id for r in after}
    stats1 = idx.stats().collect()[0]
    assert stats1.n_docs == stats0.n_docs - 1
    assert stats1.total_dl < stats0.total_dl
    # deleting the same id again is a no-op
    idx.delete(spark.createDataFrame([(kill,)], "id string"))
    assert idx.stats().collect()[0].n_docs == stats1.n_docs


def test_delete_then_remerge_resurrects(spark, docs, tmp_path_factory):
    """ADVICE r2: a delete()d id must be re-indexable by a later
    merge() WITHOUT compaction (facade remove_episode + re-ingest).
    Epoch tombstones hide only postings written at-or-before the
    delete; the re-merge's fresh postings stay visible and the stats
    re-admit the doc."""
    io = TableIO(spark, str(tmp_path_factory.mktemp("ftidx5")))
    idx = SearchIndex(io, "doc")
    idx.merge(docs, "doc_id", "text")
    stats0 = idx.stats().collect()[0]
    baseline = {(r.id, round(r.score, 9)) for r in idx.search(BM25_QUERY, limit=30).collect()}
    kill = idx.search(BM25_QUERY, limit=1).collect()[0].id

    idx.delete(spark.createDataFrame([(kill,)], "id string"))
    assert kill not in {r.id for r in idx.search(BM25_QUERY, limit=30).collect()}

    idx.merge(docs.where(F.col("doc_id") == kill), "doc_id", "text")
    after = {(r.id, round(r.score, 9)) for r in idx.search(BM25_QUERY, limit=30).collect()}
    assert after == baseline  # identical scores, doc fully restored
    stats1 = idx.stats().collect()[0]
    assert (stats1.n_docs, stats1.total_dl) == (stats0.n_docs, stats0.total_dl)

    # delete → re-merge → delete again still hides it (newer tombstone)
    idx.delete(spark.createDataFrame([(kill,)], "id string"))
    assert kill not in {r.id for r in idx.search(BM25_QUERY, limit=30).collect()}
    # and compaction physically drops every hidden generation
    idx.compact()
    assert kill not in {r.id for r in idx.search(BM25_QUERY, limit=30).collect()}
    assert idx.postings().where(F.col("id") == kill).count() == 0


def test_index_search_many_matches_single(spark, docs, index):
    queries = [("q1", BM25_QUERY), ("q2", "vector hash stream batch")]
    batched = index.search_many(queries, limit=25)
    got = {}
    for r in batched.collect():
        got.setdefault(r.query_id, {})[r.id] = round(r.score, 9)
    for qid, text in queries:
        solo = {r.id: round(r.score, 9) for r in index.search(text, limit=25).collect()}
        assert got.get(qid) == solo, qid


def test_compact_drops_tombstones_and_coalesces_files(spark, docs, tmp_path_factory):
    io = TableIO(spark, str(tmp_path_factory.mktemp("ftidx4")))
    idx = SearchIndex(io, "doc")
    half = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    rest = docs.where(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    idx.merge(half, "doc_id", "text")
    idx.merge(rest, "doc_id", "text")
    kill = [r.id for r in idx.search(BM25_QUERY, limit=3).collect()]
    idx.delete(spark.createDataFrame([(k,) for k in kill], "id string"))
    # rounded: compaction changes summation order → last-bit float drift
    before = {
        (r.id, round(r.score, 9)) for r in idx.search(BM25_QUERY, limit=30).collect()
    }
    stats_before = idx.stats().collect()[0]
    n_rows_before = idx.postings().count()

    idx.compact()

    # identical search results, stats unchanged, tombstones gone
    after = {
        (r.id, round(r.score, 9)) for r in idx.search(BM25_QUERY, limit=30).collect()
    }
    assert after == before
    assert idx.stats().collect()[0] == stats_before
    assert not io.exists("doc_tombstones")
    assert idx.postings().count() == n_rows_before  # dead rows physically gone
    # one file per term bucket after compaction (small files coalesced)
    files = _posting_files(idx)
    per_bucket = {}
    for path in files:
        per_bucket.setdefault(path.split("/")[0], []).append(path)
    assert all(len(v) == 1 for v in per_bucket.values())
    # a compacted-away id can be re-indexed by a later merge
    one = docs.where(F.col("doc_id") == kill[0])
    idx.merge(one, "doc_id", "text")
    assert kill[0] in {r.id for r in idx.search(BM25_QUERY, limit=5).collect()}

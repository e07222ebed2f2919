"""Index build + compressed-path query tests.

The M1 pure-DataFrame scorer (operators.scoring.bm25_topk) is the internal
oracle: the block-max MaxScore path must reproduce it rank-identically
(SURVEY.md §7.2-M4) on the tiny corpus AND on real driver testdata.
"""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from tfidf_spark.index.builder import build_index, load_index
from tfidf_spark.index.codec import decode_postings
from tfidf_spark.index.query import bm25_query_index, bm25_query_terms
from tfidf_spark.operators.postings import build_postings, doc_stats, corpus_stats, term_df
from tfidf_spark.operators.scoring import bm25_topk


@pytest.fixture(scope="module")
def tiny_index(tmp_path_factory, tiny_corpus):
    out = str(tmp_path_factory.mktemp("idx"))
    manifest = build_index(tiny_corpus, out, n_shards=2)
    return out, manifest


def test_manifest_and_metrics(tiny_index, tiny_corpus):
    _, manifest = tiny_index
    assert manifest["n_docs"] == 6
    assert manifest["avgdl"] == pytest.approx(8 / 6)
    assert manifest["metrics"]["postings_emitted"] == 6  # 6 posting rows
    assert manifest["metrics"]["bytes_compressed"] > 0


def test_index_tables_roundtrip(spark, tiny_index):
    out, _ = tiny_index
    idx = load_index(spark, out)
    # df per term from shards must match the direct aggregation
    dfs = {r["term"]: r["df"] for r in idx.term_stats.collect()}
    assert dfs == {"a": 2, "b": 2, "c": 2}
    # decode a shard run and check weights positive and ids sorted
    for r in idx.term_postings.collect():
        ids, w = decode_postings(bytes(r["postings"]), bytes(r["weights"]))
        assert len(ids) == r["df_shard"]
        assert np.all(np.diff(ids) > 0)  # signed ascending (sign-flip order)
        assert np.all(w > 0)
        assert len(r["block_max"]) == (len(ids) + 127) // 128
        assert max(w) <= max(r["block_max"]) + 1e-15


@pytest.mark.parametrize(
    "terms,k",
    [
        (["a"], 10),
        (["a", "c"], 10),
        (["a", "a", "b"], 2),   # duplicate term
        (["zzz"], 5),           # absent term
        (["c", "zzz"], 5),      # mixed present/absent
    ],
)
def test_index_query_matches_dataframe_scorer(spark, tiny_corpus, tiny_index, terms, k):
    out, _ = tiny_index
    idx = load_index(spark, out)
    got = bm25_query_terms(idx, terms, k=k).collect()

    postings = build_postings(tiny_corpus)
    expect = bm25_topk(
        postings, term_df(postings), idx.n_docs, idx.avgdl, terms, k=k
    ).collect()

    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in expect]
    for g, e in zip(got, expect):
        assert g["score"] == pytest.approx(e["score"], rel=1e-9)


def test_batch_queries_on_real_data(spark, tmp_path):
    """Build an index over real sf0.001 documents; batch-query it and
    compare every query against the DataFrame scorer."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "idx001")
    build_index(docs, out, text_col="text", n_shards=4)
    idx = load_index(spark, out)

    batch = [
        (0, ["spark", "join", "filter"], 10),
        (1, ["query"], 5),                      # stop-like term, df=415/500
        (2, ["vector", "window", "vector"], 7), # duplicate
        (3, ["nosuchterm"], 3),
        (4, ["dup", "slow", "big", "line"], 20),
    ]
    qdf = spark.createDataFrame(batch, "query_id long, terms array<string>, k int")
    got = bm25_query_index(idx, qdf).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for q in by_q.values():
        q.sort(key=lambda r: r["rank"])

    postings = build_postings(docs, text_col="text")
    tdf = term_df(postings)
    for qid, terms, k in batch:
        expect = bm25_topk(postings, tdf, idx.n_docs, idx.avgdl, terms, k=k).collect()
        got_q = by_q.get(qid, [])
        assert [r["doc_id"] for r in got_q] == [r["doc_id"] for r in expect], f"q{qid}"
        for g, e in zip(got_q, expect):
            assert g["score"] == pytest.approx(e["score"], rel=1e-9), f"q{qid}"


@pytest.mark.parametrize(
    "terms,k",
    [
        (["a", "c"], 10),
        (["a", "a", "b"], 2),
        (["zzz"], 5),
        (["c", "zzz"], 5),
        (["a", "c"], 0),
    ],
)
def test_local_fast_path_matches_distributed(spark, tiny_corpus, tiny_index, terms, k):
    from tfidf_spark.index.query import bm25_query_terms_local

    out, _ = tiny_index
    idx = load_index(spark, out)
    local = bm25_query_terms_local(idx, terms, k=k)
    dist = [
        (r["doc_id"], r["score"]) for r in bm25_query_terms(idx, terms, k=k).collect()
    ]
    assert [d for d, _ in local] == [d for d, _ in dist]
    for (_, a), (_, b) in zip(local, dist):
        assert a == pytest.approx(b, rel=1e-9)


def test_batch_shuffle_join_path_matches_collect_path(spark, tiny_index):
    """prune_by_collect=False (shuffle join, for query batches too large
    for a driver IN-list) must return exactly what the collect-pruned
    path returns."""
    out, _ = tiny_index
    idx = load_index(spark, out)
    batch = [
        (0, ["a", "c"], 10),
        (1, ["b"], 2),
        (2, ["a", "a", "b"], 3),
        (3, ["zzz"], 5),
    ]
    qdf = spark.createDataFrame(batch, "query_id long, terms array<string>, k int")

    def rows(df):
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in df.collect()
        )

    assert rows(bm25_query_index(idx, qdf, prune_by_collect=False)) == rows(
        bm25_query_index(idx, qdf, prune_by_collect=True)
    )


def test_local_fast_path_df_budget_fallback(spark, tiny_corpus, tiny_index):
    """df_budget=0 forces every term over budget: the fast path must
    delegate to the distributed kernel and return identical results —
    the driver never collects posting blobs for stop-like terms."""
    from tfidf_spark.index.query import bm25_query_terms_local

    out, _ = tiny_index
    idx = load_index(spark, out)
    direct = bm25_query_terms_local(idx, ["a", "c"], k=10)        # under budget
    fallback = bm25_query_terms_local(idx, ["a", "c"], k=10, df_budget=0)
    assert [d for d, _ in fallback] == [d for d, _ in direct]
    for (_, a), (_, b) in zip(fallback, direct):
        assert a == pytest.approx(b, rel=1e-9)


def test_determinism_across_shard_counts(spark, tiny_corpus, tmp_path):
    """Same corpus, different shard counts -> identical query results
    (the parallelism-determinism requirement, SURVEY.md §5.4)."""
    results = []
    for n_shards in (1, 3):
        out = str(tmp_path / f"idx{n_shards}")
        build_index(tiny_corpus, out, n_shards=n_shards)
        idx = load_index(spark, out)
        rows = bm25_query_terms(idx, ["a", "b", "c"], k=10).collect()
        results.append([(r["doc_id"], round(r["score"], 12)) for r in rows])
    assert results[0] == results[1]


def test_warm_serving_path_identical_and_cached(spark, tiny_corpus, tiny_index):
    """IndexHandle.warm pins term_postings/term_stats in executor memory
    and loads the coordinator-resident term->df dictionary; every query
    path must return exactly the cold results, vocabulary misses must
    short-circuit without touching Spark, and the df-budget delegation
    must survive warming."""
    from tfidf_spark.index.query import bm25_query_terms_local

    out, _ = tiny_index
    idx = load_index(spark, out)
    cold = {
        t: bm25_query_terms_local(idx, list(t), k=10)
        for t in (("a", "c"), ("a", "a", "b"), ("c", "zzz"))
    }
    info = idx.warm()
    assert info["persisted"] == ["term_postings", "term_stats"]
    assert info["df_dict_terms"] == idx.term_stats.count()
    assert idx.term_postings.storageLevel.useMemory
    for t, want in cold.items():
        got = bm25_query_terms_local(idx, list(t), k=10)
        assert [d for d, _ in got] == [d for d, _ in want]
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, rel=1e-9)
    # pure vocabulary miss: answered from the dictionary, no jobs
    assert bm25_query_terms_local(idx, ["zzz", "qqq"], k=5) == []
    # budget delegation still distributes when warmed
    fallback = bm25_query_terms_local(idx, ["a", "c"], k=10, df_budget=0)
    assert [d for d, _ in fallback] == [d for d, _ in cold[("a", "c")]]
    idx.cool()
    assert not idx.term_postings.storageLevel.useMemory
    assert idx._df_dict is None


def test_warm_dict_guard_refuses_oversized_vocab(spark, tiny_index):
    """A vocabulary larger than df_dict_max_terms must leave the
    dictionary unloaded (driver protected) while persistence and the
    scan-based precheck keep working."""
    from tfidf_spark.index.query import bm25_query_terms_local

    out, _ = tiny_index
    idx = load_index(spark, out)
    info = idx.warm(df_dict_max_terms=1)
    assert info["df_dict_terms"] is None
    res = bm25_query_terms_local(idx, ["a", "c"], k=10)
    assert res  # scan precheck path, warmed tables
    idx.cool()


def test_warm_composes_with_tombstone_deletes(spark, tiny_corpus, tmp_path):
    """Soft deletes issued on a WARMED handle must be visible on the next
    query: tombstones are not part of what warm() pins (they anti-filter
    after the kernel), and the pinned term dictionary keeps the
    pre-compaction df semantics deletes share with the distributed path
    (df corrects at compaction, Lucene-style)."""
    from tfidf_spark.index.incremental import delete_docs
    from tfidf_spark.index.query import bm25_query_terms_local

    out = str(tmp_path / "idx")
    build_index(tiny_corpus, out, n_shards=2)
    idx = load_index(spark, out)
    idx.warm()
    before = bm25_query_terms_local(idx, ["a", "c"], k=10)
    victim = before[0][0]
    delete_docs(idx, [victim])
    after = bm25_query_terms_local(idx, ["a", "c"], k=10)
    assert victim not in [d for d, _ in after]
    # identical to what a cold handle sees post-delete
    cold = load_index(spark, out)
    ref = bm25_query_terms_local(cold, ["a", "c"], k=10)
    assert [d for d, _ in after] == [d for d, _ in ref]
    for (_, a), (_, b) in zip(after, ref):
        assert a == pytest.approx(b, rel=1e-9)
    idx.cool()

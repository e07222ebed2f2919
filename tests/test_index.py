"""Index build + compressed-path query tests.

The M1 pure-DataFrame scorer (operators.scoring.bm25_topk) is the internal
oracle: the block-max MaxScore path must reproduce it rank-identically
(SURVEY.md §7.2-M4) on the tiny corpus AND on real driver testdata.
"""

from __future__ import annotations

import json
import shutil

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tfidf_spark.index.builder import _encode_sorted_stream, build_index, load_index
from tfidf_spark.index.codec import decode_postings
from tfidf_spark.index.query import (
    bm25_query_index,
    bm25_query_terms,
    bm25_query_terms_local,
)
from tfidf_spark.operators.postings import build_postings, doc_stats, corpus_stats, term_df
from tfidf_spark.operators.scoring import bm25_topk


_QUERY_SCHEMA = "query_id long, terms array<string>, k int"


def _join_path(idx, terms, k):
    """One query through the executor kernel (the join path,
    ``prune_by_collect=False``) -> ``[(doc_id, score)]`` in rank order."""
    q = idx.spark.createDataFrame([(0, terms, k)], _QUERY_SCHEMA)
    rows = bm25_query_index(idx, q, prune_by_collect=False).collect()
    return [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]


@pytest.fixture(scope="module")
def tiny_index(tmp_path_factory, tiny_corpus):
    out = str(tmp_path_factory.mktemp("idx"))
    manifest = build_index(tiny_corpus, out, n_shards=2)
    return out, manifest


@settings(max_examples=50, deadline=None)
@given(
    runs=st.lists(st.tuples(st.sampled_from("abc"), st.integers(0, 2)), min_size=1),
    sizes=st.lists(st.integers(1, 140), min_size=1),
    cuts=st.lists(st.integers(0, 10_000), max_size=6),
)
def test_encode_stream_independent_of_batch_cuts(runs, sizes, cuts):
    """The encode kernel gives the same runs however the sorted stream
    is cut into Arrow batches (empty batches and runs spanning several
    batches included): the slicer carries incomplete groups."""
    keys = sorted(set(runs))
    rows = [
        (t, s, d, (d % 5) / 4.0)
        for i, (t, s) in enumerate(keys)
        for d in range(-3, sizes[i % len(sizes)] - 3)
    ]
    pdf = pd.DataFrame(rows, columns=["term", "shard", "doc_id", "w"])
    cut_at = sorted({c % (len(pdf) + 1) for c in cuts})
    batches = [pdf.iloc[a:b] for a, b in zip([0] + cut_at, cut_at + [len(pdf)])]
    whole = pd.concat(list(_encode_sorted_stream(iter([pdf]))), ignore_index=True)
    split = pd.concat(list(_encode_sorted_stream(iter(batches))), ignore_index=True)
    assert list(zip(whole["term"], whole["shard"])) == keys
    assert whole.to_dict("list") == split.to_dict("list")


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
    out, _ = tiny_index
    idx = load_index(spark, out)
    local = bm25_query_terms_local(idx, terms, k=k)
    dist = _join_path(idx, terms, k)
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
    out, _ = tiny_index
    idx = load_index(spark, out)
    direct = bm25_query_terms_local(idx, ["a", "c"], k=10)        # under budget
    fallback = bm25_query_terms_local(idx, ["a", "c"], k=10, df_budget=0)
    assert fallback == _join_path(idx, ["a", "c"], 10)
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


# terms of the synthetic corpus: hot, mid and rare ones, a repeat, misses
_SYNTH_QUERIES = [
    ["w0", "w1"],
    ["w3", "w7", "w3"],
    ["w0"],
    ["w12", "w40", "w99"],
    ["w5", "nosuchterm"],
    ["nosuchterm"],
]


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    """A single-segment base, a ``compact_index``ed two-segment snapshot
    on top of it, and a ``patch_deletes``ed snapshot of that one with
    shadowed runs in both carried segments."""
    from tfidf_spark.index.incremental import compact_index, delete_docs, patch_deletes
    from tfidf_spark.sources.corpus import synth_corpus, with_doc_id

    root = tmp_path_factory.mktemp("warm_snapshots")
    full = with_doc_id(synth_corpus(spark, 120, partitions=4)).cache()
    base_dir, merged_dir, patch_dir = (str(root / n) for n in ("base", "merged", "patched"))
    build_index(full.filter(F.col("doc_id") % 3 != 0), base_dir, n_shards=4)
    compact_index(
        load_index(spark, base_dir), full.filter(F.col("doc_id") % 3 == 0),
        merged_dir, force=True,
    )
    # the patch source is a throwaway copy of the merged snapshot, so the
    # merged snapshot itself stays free of tombstones
    src = str(root / "patch_src")
    shutil.copytree(merged_dir, src)
    top = [d for d, _ in bm25_query_terms_local(load_index(spark, src), ["w0", "w1"])]
    delete_docs(load_index(spark, src), top[:2] + top[-1:])
    pm = patch_deletes(load_index(spark, src), patch_dir)
    assert pm["metrics"]["runs_patched"] >= 1
    full.unpersist()
    return {"base": base_dir, "merged": merged_dir, "patched": patch_dir}


@pytest.mark.parametrize("name", ["base", "merged", "patched"])
def test_warm_run_cache_identical_to_cold(spark, snapshots, name):
    """Runs served from the warm run cache give exactly the results of
    the cold pruned scan, on one segment, on a two-segment snapshot and on
    a patched snapshot whose shadowed runs must stay out of the cache."""
    path = snapshots[name]
    cold_idx = load_index(spark, path)
    cold = [bm25_query_terms_local(cold_idx, t) for t in _SYNTH_QUERIES]
    idx = load_index(spark, path)
    info = idx.warm()
    assert info["run_cache_bytes"] == sum(
        r["bytes"] for r in idx.term_stats.select("bytes").collect()
    )
    assert info["run_cache_bytes"] == sum(
        len(run[1]) + len(run[2]) for runs in idx._run_cache.values() for run in runs
    )
    assert [bm25_query_terms_local(idx, t) for t in _SYNTH_QUERIES] == cold
    if name == "patched":
        assert idx.manifest["shadowed_runs"] and idx.deleted_ids
    idx.cool()
    assert idx._run_cache is None


def test_warm_local_queries_run_no_spark_jobs(spark, snapshots, tmp_path, jobs_of):
    """A warmed handle answers driver-local queries with zero Spark jobs:
    repeated terms, a vocabulary miss and, after its first query, a
    tombstoned handle. A cold handle under the same probe does run jobs."""
    from tfidf_spark.index.incremental import delete_docs

    # the merged snapshot refers to its base as ../base: copy both
    shutil.copytree(snapshots["base"], tmp_path / "base")
    path = str(tmp_path / "merged")
    shutil.copytree(snapshots["merged"], path)
    idx = load_index(spark, path)
    assert idx.warm()["run_cache_bytes"]

    def warm_loop():
        for _ in range(2):
            for t in _SYNTH_QUERIES:
                bm25_query_terms_local(idx, t)

    assert jobs_of(warm_loop) == []
    victim = bm25_query_terms_local(idx, ["w0", "w1"])[0][0]
    delete_docs(idx, [victim])
    assert victim not in [d for d, _ in bm25_query_terms_local(idx, ["w0", "w1"])]
    assert jobs_of(warm_loop) == []
    assert jobs_of(lambda: bm25_query_terms_local(load_index(spark, path), ["w0", "w1"]))
    idx.cool()


def test_warm_run_cache_budget_all_or_nothing(spark, snapshots):
    """A budget smaller than one term's runs keeps no run cache at all
    (queries take the pruned scan, same results); cool() drops the cache
    and warming again does not grow it."""
    path = snapshots["merged"]
    cold = [bm25_query_terms_local(load_index(spark, path), t) for t in _SYNTH_QUERIES]
    idx = load_index(spark, path)
    smallest = min(r["bytes"] for r in idx.term_stats.select("bytes").collect())
    info = idx.warm(run_cache_bytes=smallest - 1)
    assert info["run_cache_bytes"] is None
    assert info["df_dict_terms"] is not None
    assert idx._run_cache is None
    assert idx.term_postings.storageLevel.useMemory
    assert [bm25_query_terms_local(idx, t) for t in _SYNTH_QUERIES] == cold
    idx.cool()

    def cache_size():
        return sum(len(runs) for runs in idx._run_cache.values())

    first = idx.warm()["run_cache_bytes"]
    n_runs = cache_size()
    idx.cool()
    assert idx._run_cache is None
    assert idx.warm()["run_cache_bytes"] == first and cache_size() == n_runs
    assert idx.warm()["run_cache_bytes"] == first and cache_size() == n_runs
    assert [bm25_query_terms_local(idx, t) for t in _SYNTH_QUERIES] == cold
    idx.cool()


# a collected batch's edge cases: repeated terms, k = 0, empty terms, a
# vocabulary miss, k above the match count
_BATCH = [
    (0, ["w0", "w1"], 10),
    (1, ["w3", "w7", "w3"], 5),
    (2, ["w0", "w1"], 0),
    (3, [], 5),
    (4, ["nosuchterm"], 5),
    (5, ["w12", "w40", "w99"], 1000),
    (6, ["w5", "nosuchterm"], 7),
]


def _by_query(rows):
    out = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"], r["rank"]))
    return out


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", ["base", "merged", "patched"])
def test_collected_batch_equals_join_path(spark, snapshots, name, monkeypatch):
    """The coordinator answers a collected batch with exactly the rows of
    the executor kernel (the join path): same doc_id order, scores and
    ranks, on one segment, two segments and a patched snapshot with
    tombstones. Over ``DF_BUDGET`` the batch goes to the executor kernel
    and still returns the same rows."""
    from tfidf_spark.index import query

    qdf = spark.createDataFrame(_BATCH, _QUERY_SCHEMA)
    join = _by_query(
        bm25_query_index(load_index(spark, snapshots[name]), qdf, prune_by_collect=False)
        .collect()
    )
    # non-vacuity: real hits, no rows for k = 0, empty terms or a miss,
    # and fewer matches than k for query 5
    assert len(join[0]) == 10 and len(join[1]) == 5
    assert not {2, 3, 4} & set(join)
    assert 0 < len(join[5]) < 1000
    collected = bm25_query_index(load_index(spark, snapshots[name]), qdf)
    assert "LocalTableScan" in _executed_plan(collected)
    assert _by_query(collected.collect()) == join

    monkeypatch.setattr(query, "DF_BUDGET", 0)
    over = bm25_query_index(load_index(spark, snapshots[name]), qdf)
    assert "MapInPandas" in _executed_plan(over)
    assert _by_query(over.collect()) == join


def test_collected_batch_job_budget(spark, snapshots, tmp_path, jobs_of):
    """A warm handle answers a collected batch whose query DataFrame is a
    local relation with no Spark job. A cold two-segment handle with
    tombstones runs at most four: the query-row collect, the tombstone
    collect, the term_stats select and the pruned run scan."""
    from tfidf_spark.index.incremental import delete_docs

    shutil.copytree(snapshots["base"], tmp_path / "base")
    path = str(tmp_path / "merged")
    shutil.copytree(snapshots["merged"], path)
    top = [d for d, _ in bm25_query_terms_local(load_index(spark, path), ["w0", "w1"])]
    delete_docs(load_index(spark, path), top[:3])

    listed = spark.createDataFrame(_BATCH, _QUERY_SCHEMA)
    cold = load_index(spark, path)
    got = {}
    cold_jobs = jobs_of(lambda: got.update(cold=bm25_query_index(cold, listed).collect()))
    assert 1 <= len(cold_jobs) <= 4

    local = spark.createDataFrame(
        pd.DataFrame(_BATCH, columns=["query_id", "terms", "k"]), _QUERY_SCHEMA
    )
    warm = load_index(spark, path)
    assert warm.warm()["run_cache_bytes"]
    assert warm.deleted_ids == set(top[:3])
    assert jobs_of(lambda: got.update(warm=bm25_query_index(warm, local).collect())) == []
    warm.cool()
    assert _by_query(got["warm"]) == _by_query(got["cold"])
    assert not set(top[:3]) & {d for d, _, _ in _by_query(got["cold"])[0]}


def test_pre_block_off_segment_refused(spark, tiny_index, tmp_path, jobs_of):
    """A posting segment without ``block_off`` (the v1 layout) is refused
    with a rebuild message, read from a parquet footer without a Spark
    job; the explicit-schema read alone would return nulls."""
    out = tmp_path / "old"
    shutil.copytree(tiny_index[0], out)
    seg = str(out / "term_postings")
    spark.read.parquet(seg).drop("block_off").write.parquet(str(tmp_path / "v1seg"))
    shutil.rmtree(seg)
    shutil.move(str(tmp_path / "v1seg"), seg)
    idx = load_index(spark, str(out))

    def read():
        with pytest.raises(ValueError, match="rebuild required"):
            idx.term_postings

    assert jobs_of(read) == []
    assert "block_off" in load_index(spark, tiny_index[0]).term_postings.columns

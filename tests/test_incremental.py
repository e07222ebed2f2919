"""Incremental maintenance: compacting a delta into an index must rank
the union exactly as the reference oracle does with avgdl pinned to the
base's, and must not decode untouched runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tfidf_spark.index.builder import build_index, load_index
from tfidf_spark.index.incremental import compact_index
from tfidf_spark.index.query import bm25_query_terms, bm25_query_terms_local
from tfidf_spark.oracle import OracleIndex
from tfidf_spark.sources.corpus import synth_corpus, with_doc_id


@pytest.fixture(scope="module")
def split_corpus(spark):
    full = with_doc_id(synth_corpus(spark, 120, partitions=4)).cache()
    base = full.filter(F.col("doc_id") % 3 != 0).cache()
    delta = full.filter(F.col("doc_id") % 3 == 0).cache()
    full.count()
    return full, base, delta


def _results(spark, path, terms, k=15):
    idx = load_index(spark, path)
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_query_terms(idx, terms, k=k).collect()
    ]


def _assert_matches_pinned_oracle(spark, path, docs, avgdl, queries, k=15):
    """The snapshot at ``path`` ranks ``docs`` as the oracle does with
    avgdl pinned to ``avgdl``: doc_id order exact, scores to rel 1e-9."""
    oracle = OracleIndex({r["doc_id"]: r["content"] for r in docs.collect()})
    oracle.avgdl = avgdl
    idx = load_index(spark, path)
    for terms in queries:
        got = bm25_query_terms(idx, terms, k=k).collect()
        expect = oracle.bm25_topk(terms, k)
        assert [r["doc_id"] for r in got] == [d for d, _ in expect], terms
        for r, (_, s) in zip(got, expect):
            assert r["score"] == pytest.approx(s, rel=1e-9), terms


def test_compact_equals_full_rebuild(spark, split_corpus, tmp_path):
    full, base, delta = split_corpus
    base_dir = str(tmp_path / "base")
    build_index(base, base_dir, n_shards=4)
    base_idx = load_index(spark, base_dir)

    merged_dir = str(tmp_path / "merged")
    manifest = compact_index(base_idx, delta, merged_dir, force=True)
    assert manifest["n_docs"] == full.count()
    assert manifest["increments"] == 1

    # oracle: the union with avgdl pinned to the base's
    _assert_matches_pinned_oracle(
        spark, merged_dir, full, base_idx.avgdl,
        (["w0"], ["w1", "w7"], ["w3", "w250", "w999"], ["zzz"]),
    )


def test_reingest_guard(spark, split_corpus, tmp_path):
    _, base, _ = split_corpus
    base_dir = str(tmp_path / "b3")
    build_index(base, base_dir, n_shards=4)
    out_dir = tmp_path / "m3"
    with pytest.raises(ValueError, match="already exist"):
        compact_index(load_index(spark, base_dir), base.limit(5), str(out_dir))
    # the guard runs after the delta's doc_stats are staged, but a refused
    # merge must never publish a snapshot
    assert not (out_dir / "manifest.json").exists()


def test_compact_carries_tombstones(spark, split_corpus, tmp_path):
    """Docs deleted from the base must STAY deleted after an incremental
    merge — compact_index copies the tombstones into the new snapshot."""
    from tfidf_spark.index.incremental import delete_docs

    full, base, delta = split_corpus
    base_dir = str(tmp_path / "b4")
    build_index(base, base_dir, n_shards=4)
    base_idx = load_index(spark, base_dir)
    victims = [r["doc_id"] for r in base.select("doc_id").limit(2).collect()]
    delete_docs(base_idx, victims)

    merged_dir = str(tmp_path / "m4")
    compact_index(base_idx, delta, merged_dir, force=True)
    merged = load_index(spark, merged_dir)
    assert merged.n_tombstones == 2
    hits = {
        r["doc_id"]
        for r in bm25_query_terms(merged, ["w0", "w1", "w2"], k=500).collect()
    }
    assert not hits & set(victims)


def test_compact_code_aware_mismatch_raises(spark, split_corpus, tmp_path):
    _, base, delta = split_corpus
    base_dir = str(tmp_path / "b5")
    build_index(base, base_dir, n_shards=4, code_aware=False)
    with pytest.raises(ValueError, match="tokenizer"):
        compact_index(
            load_index(spark, base_dir), delta, str(tmp_path / "m5"), code_aware=True
        )


def test_drift_guard(spark, split_corpus, tmp_path):
    _, base, _ = split_corpus
    base_dir = str(tmp_path / "b2")
    build_index(base, base_dir, n_shards=4)
    base_idx = load_index(spark, base_dir)
    # a delta of pathologically long docs shifts avgdl beyond 10%
    long_docs = base.limit(20).withColumn(
        "content", F.concat_ws(" ", *([F.col("content")] * 30))
    ).withColumn("doc_id", F.col("doc_id") + 1)
    with pytest.raises(RuntimeError, match="avgdl drift"):
        compact_index(base_idx, long_docs, str(tmp_path / "m2"))


def test_compact_is_o_delta(spark, split_corpus, tmp_path):
    """The merge carries base segments BY REFERENCE: no base posting file
    is rewritten (mtimes identical), the new manifest lists the base dir
    plus the delta dir, and the bytes written are the delta's alone."""
    import os

    full, base, delta = split_corpus
    base_dir = str(tmp_path / "ob")
    build_index(base, base_dir, n_shards=4)
    base_idx = load_index(spark, base_dir)

    seg = os.path.join(base_dir, "term_postings")
    before = {f: os.path.getmtime(os.path.join(seg, f)) for f in os.listdir(seg)}

    merged_dir = str(tmp_path / "om")
    m = compact_index(base_idx, delta, merged_dir, force=True)

    after = {f: os.path.getmtime(os.path.join(seg, f)) for f in os.listdir(seg)}
    assert before == after, "base segment files were rewritten"
    assert m["metrics"]["carried_segments"] == 1
    # every ref is relative to the new snapshot's dir: the carried base
    # segment via "..", the delta segment inside it — so the chain moves
    # as a unit (test_chained_snapshots_move_as_a_unit)
    assert m["segments"]["term_postings"] == [
        os.path.join("..", "ob", "term_postings"),
        "term_postings",
    ]
    # bytes written ~ delta footprint, strictly below the base's bytes
    base_bytes = base_idx.manifest["metrics"]["bytes_compressed"]
    assert 0 < m["metrics"]["bytes_written_postings"] < base_bytes


def test_chained_increments_and_full_compact(spark, split_corpus, tmp_path):
    """Two increments -> 3 segments, still rank-identical to the oracle
    over the union with avgdl pinned; full_compact collapses back to one
    segment with identical results."""
    import os

    full, base, delta = split_corpus
    d1 = delta.filter(F.col("doc_id") % 2 == 0).cache()
    d2 = delta.filter(F.col("doc_id") % 2 != 0).cache()

    base_dir = str(tmp_path / "cb")
    build_index(base, base_dir, n_shards=4)
    base_idx = load_index(spark, base_dir)

    m1_dir = str(tmp_path / "cm1")
    compact_index(base_idx, d1, m1_dir, force=True)
    m2_dir = str(tmp_path / "cm2")
    m2 = compact_index(load_index(spark, m1_dir), d2, m2_dir, force=True)
    assert m2["increments"] == 2
    assert len(m2["segments"]["term_postings"]) == 3

    _assert_matches_pinned_oracle(
        spark, m2_dir, full, base_idx.avgdl,
        (["w0"], ["w1", "w7"], ["w3", "w250", "w999"]),
    )

    from tfidf_spark.index.incremental import full_compact

    fc_dir = str(tmp_path / "cfc")
    fm = full_compact(load_index(spark, m2_dir), fc_dir)
    assert len(fm["segments"]["term_postings"]) == 1
    # self-contained snapshot: RELATIVE segment name (relocatable)
    assert fm["segments"]["term_postings"][0] == "term_postings"
    _assert_matches_pinned_oracle(
        spark, fc_dir, full, base_idx.avgdl, (["w0"], ["w1", "w7"])
    )


def test_chained_snapshots_move_as_a_unit(spark, split_corpus, tmp_path):
    """A base + two chained increments under one root must survive the
    whole root being renamed: carried-segment refs are stored relative
    to each snapshot's own directory, never absolute (VERDICT r3 #7)."""
    import shutil

    _, base, delta = split_corpus
    d1 = delta.filter(F.col("doc_id") % 2 == 0)
    d2 = delta.filter(F.col("doc_id") % 2 != 0)

    root = tmp_path / "chain_root"
    build_index(base, str(root / "s0"), n_shards=4)
    compact_index(
        load_index(spark, str(root / "s0")), d1, str(root / "s1"), force=True
    )
    compact_index(
        load_index(spark, str(root / "s1")), d2, str(root / "s2"), force=True
    )
    expected = _results(spark, str(root / "s2"), ["w1", "w7"])

    moved = tmp_path / "chain_moved"
    shutil.move(str(root), str(moved))  # the original root is GONE
    idx = load_index(spark, str(moved / "s2"))
    assert len(idx.segment_paths("term_postings")) == 3
    assert all(
        p.startswith(str(moved)) for p in idx.segment_paths("term_postings")
    )
    assert _results(spark, str(moved / "s2"), ["w1", "w7"]) == expected


def test_relative_base_path_chain(spark, split_corpus, tmp_path, monkeypatch):
    """Opening the base via a RELATIVE path must still produce a correct
    chained manifest (ADVICE r3: cwd-relative refs used to be written
    verbatim and then re-resolved against the new snapshot's dir)."""
    import os

    _, base, delta = split_corpus
    root = tmp_path / "relroot"
    build_index(base, str(root / "b"), n_shards=4)
    monkeypatch.chdir(tmp_path)
    rel_idx = load_index(spark, os.path.join("relroot", "b"))
    compact_index(rel_idx, delta, str(root / "m"), force=True)
    assert _results(spark, str(root / "m"), ["w1", "w7"])


def test_fresh_index_is_relocatable(spark, split_corpus, tmp_path):
    """A single-segment snapshot must survive a directory copy: segment
    names are stored relative and resolve against the manifest's own
    directory — never against the build-time path."""
    import shutil

    _, base, _ = split_corpus
    src = str(tmp_path / "reloc_src")
    build_index(base, src, n_shards=4)
    moved = str(tmp_path / "reloc_dst")
    shutil.copytree(src, moved)
    shutil.rmtree(src)  # the original is GONE — any stale path would fail
    idx = load_index(spark, moved)
    assert all(p.startswith(moved) for p in idx.segment_paths("term_postings"))
    assert _results(spark, moved, ["w1", "w7"])  # queries run from the copy


def test_compact_counts_zero_token_delta_docs(spark, split_corpus, tmp_path):
    """Delta docs with no tokens (empty, or identifiers the reference
    tokenizer cannot see) still count toward N and get ``n_unique == 0``
    doc_stats rows: the staged marker rows carry them."""
    _, base, _ = split_corpus
    base_dir = str(tmp_path / "zb")
    build_index(base, base_dir, n_shards=4)
    base_idx = load_index(spark, base_dir)
    delta = spark.createDataFrame(
        [(10_001, ""), (10_002, "snake_case x86_64")], "doc_id long, content string"
    )
    merged_dir = str(tmp_path / "zm")
    m = compact_index(base_idx, delta, merged_dir, force=True)
    assert m["n_docs"] == base_idx.n_docs + 2
    assert m["metrics"]["docs_tokenized"] == 2
    assert m["metrics"]["postings_emitted"] == 0
    stats = {
        r["doc_id"]: (r["dl"], r["n_unique"])
        for r in spark.read.parquet(f"{merged_dir}/doc_stats").collect()
    }
    assert stats == {10_001: (0, 0), 10_002: (0, 0)}


def test_empty_corpus_builds_empty_index(spark, tmp_path):
    """A corpus with no documents builds a valid empty index whose
    queries return nothing (its staged postings are read with an
    explicit schema: a zero-row partitioned write leaves no file to
    infer one from)."""
    out = str(tmp_path / "empty")
    m = build_index(
        spark.createDataFrame([], "doc_id long, content string"), out, n_shards=4
    )
    assert m["n_docs"] == 0
    assert m["metrics"]["postings_emitted"] == 0
    idx = load_index(spark, out)
    assert bm25_query_terms(idx, ["w0", "w1"]).collect() == []
    assert bm25_query_terms_local(idx, ["w0", "w1"]) == []


def test_compact_empty_delta(spark, split_corpus, tmp_path):
    """Compacting a delta with no documents adds an empty segment and
    leaves N and every ranking as they were."""
    _, base, _ = split_corpus
    base_dir = str(tmp_path / "eb")
    build_index(base, base_dir, n_shards=4)
    base_idx = load_index(spark, base_dir)
    merged_dir = str(tmp_path / "em")
    m = compact_index(
        base_idx, spark.createDataFrame([], "doc_id long, content string"), merged_dir
    )
    assert m["n_docs"] == base_idx.n_docs
    assert m["metrics"]["docs_tokenized"] == 0
    for terms in (["w0"], ["w1", "w7"]):
        assert _results(spark, merged_dir, terms) == _results(
            spark, base_dir, terms
        ), terms

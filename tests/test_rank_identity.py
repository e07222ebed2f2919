"""End-to-end rank-identity: synthetic corpus -> BOTH engine paths
(pure-DataFrame scorer and compressed index) must match the pure-Python
reference-semantics oracle on the seeded reference query set
(SURVEY.md §5.2; FIXTURES.md §2): docID sequence exact, scores
approx rel=1e-9. Exact ties are pinned harder: the index paths' scores
must equal the oracle's bit for bit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tfidf_spark.index.builder import build_index, load_index
from tfidf_spark.index.incremental import compact_index
from tfidf_spark.index.query import bm25_query_index, bm25_query_terms_local
from tfidf_spark.operators.postings import build_postings, term_df
from tfidf_spark.operators.scoring import bm25_topk
from tfidf_spark.oracle import OracleIndex
from tfidf_spark.sources.corpus import reference_queries, synth_corpus, with_doc_id

N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    df = with_doc_id(synth_corpus(spark, N_DOCS, partitions=4)).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle(corpus):
    rows = corpus.select("doc_id", "content").collect()
    return OracleIndex({r["doc_id"]: r["content"] for r in rows})


@pytest.fixture(scope="module")
def built_index(tmp_path_factory, corpus, spark):
    out = str(tmp_path_factory.mktemp("synthidx"))
    build_index(corpus, out, n_shards=4)
    return load_index(spark, out)


def test_corpus_is_deterministic_across_partitionings(spark):
    a = synth_corpus(spark, 50, partitions=1).collect()
    b = synth_corpus(spark, 50, partitions=7).collect()
    ka = sorted((r["repo"], r["path"], r["content"]) for r in a)
    kb = sorted((r["repo"], r["path"], r["content"]) for r in b)
    assert ka == kb


def test_corpus_stats_match_oracle(corpus, oracle):
    postings = build_postings(corpus)
    dfs = {r["term"]: r["df"] for r in term_df(postings).collect()}
    assert dfs == {t: d for t, d in oracle.df.items()}
    assert oracle.n_docs == N_DOCS
    # skew sanity: the corpus must actually have stop-like terms
    assert max(dfs.values()) > 0.8 * N_DOCS


QUERY_SET = reference_queries(30)


@pytest.mark.parametrize("qid,terms,k", QUERY_SET, ids=[f"q{q}" for q, _, _ in QUERY_SET])
def test_dataframe_scorer_rank_identity(corpus, oracle, qid, terms, k):
    postings = build_postings(corpus)
    got = bm25_topk(
        postings, term_df(postings), oracle.n_docs, oracle.avgdl, terms, k=k
    ).collect()
    expect = oracle.bm25_topk(terms, k)
    assert [r["doc_id"] for r in got] == [d for d, _ in expect]
    for r, (_, s) in zip(got, expect):
        assert r["score"] == pytest.approx(s, rel=1e-9)


def test_index_path_rank_identity_batch(spark, built_index, oracle):
    """All 30 reference queries through the compressed index in ONE batch."""
    qdf = spark.createDataFrame(
        [(qid, terms, k) for qid, terms, k in QUERY_SET],
        "query_id long, terms array<string>, k int",
    )
    got = bm25_query_index(built_index, qdf).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
    for qid, terms, k in QUERY_SET:
        expect = oracle.bm25_topk(terms, k)
        got_q = by_q.get(qid, [])
        assert [r["doc_id"] for r in got_q] == [d for d, _ in expect], f"q{qid} {terms}"
        for r, (_, s) in zip(got_q, expect):
            assert r["score"] == pytest.approx(s, rel=1e-9), f"q{qid}"


def test_exact_ties_across_shards_and_segments(spark, tmp_path, corpus):
    """Three copies of one document — two in different shards of the base
    index, the third added by ``compact_index`` as a delta segment — tie
    exactly in the oracle, so every index path must give them the
    oracle's score as the same double and order them by doc_id. The query
    repeats one term three times, which the oracle adds per occurrence
    (``x+x+x`` is not ``3·x`` in floating point)."""
    shard_of = {
        r["id"]: r["shard"]
        for r in spark.range(1, 64)
        .select("id", F.pmod(F.xxhash64("id"), F.lit(4)).alias("shard"))
        .collect()
    }
    first = min(shard_of)
    second = min(d for d, s in shard_of.items() if s != shard_of[first])
    third = max(shard_of)
    rows = corpus.select("doc_id", "content").collect()
    texts = {r["doc_id"]: r["content"] for r in rows}
    twin = max(texts.values(), key=len)
    base_dir, merged_dir = str(tmp_path / "base"), str(tmp_path / "merged")
    base = corpus.select("doc_id", "content").unionByName(
        spark.createDataFrame(
            [(first, twin), (second, twin)], "doc_id long, content string"
        )
    )
    build_index(base, base_dir, n_shards=4)
    base_idx = load_index(spark, base_dir)
    delta = spark.createDataFrame([(third, twin)], "doc_id long, content string")
    compact_index(base_idx, delta, merged_dir, force=True)
    idx = load_index(spark, merged_dir)

    oracle = OracleIndex({**texts, first: twin, second: twin, third: twin})
    oracle.avgdl = base_idx.avgdl  # compact_index pins the base's avgdl
    dl = oracle.dl[first]
    wt = {t: oracle.bm25_weight(n, dl) for t, n in oracle.counts[first].items()}
    c = {t: oracle.idf(t) * w for t, w in wt.items()}

    def folds_apart(rep, other):
        # per occurrence, ((r+o)+r)+r, vs a 3·idf multiplier folded first
        by_occ = ((c[rep] + c[other]) + c[rep]) + c[rep]
        by_mult = (3 * oracle.idf(rep)) * wt[rep]
        return by_occ not in (by_mult + c[other], c[other] + by_mult)

    rare = sorted(c, key=lambda t: (oracle.df[t], t))
    rep, other = next(
        (r, o) for r in rare for o in rare if r != o and folds_apart(r, o)
    )
    terms, k = [rep, other, rep, rep], 10
    expect = oracle.bm25_topk(terms, k)
    assert {first, second, third} <= {d for d, _ in expect}

    qdf = spark.createDataFrame([(0, terms, k)], "query_id long, terms array<string>, k int")
    paths = {
        "local": bm25_query_terms_local(idx, terms, k),
        "collected": bm25_query_index(idx, qdf),
        "join": bm25_query_index(idx, qdf, prune_by_collect=False),
    }
    for name, got in paths.items():
        if name != "local":
            got = [(r["doc_id"], r["score"]) for r in got.orderBy("rank").collect()]
        assert got == expect, name


def test_content_sha256_invariant(corpus):
    """Per-row invariant (BASELINE.json input_hint): sha2(content,256) of
    what the engine carries equals the source table's hash."""
    src = corpus.select("doc_id", F.sha2("content", 256).alias("h"))
    roundtrip = corpus.select("doc_id", "content").join(src, "doc_id")
    bad = roundtrip.filter(F.sha2("content", 256) != F.col("h")).count()
    assert bad == 0

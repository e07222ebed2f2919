"""Dedup-operator tests on a corpus with PLANTED duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tfidf_spark.functions.tokenize import py_tokenize
from tfidf_spark.operators.dedup import (
    doc_shingles,
    exact_duplicates,
    jaccard_pairs,
    lsh_bucket_stats,
    lsh_candidate_pairs,
    minhash_signatures_docs,
    simhash_docs,
    simhash_near_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "near the warm fire and dreams of fish"
)
DOCS = [
    (1, BASE),
    (2, BASE),                                   # exact dup of 1
    (3, BASE.replace("fish", "mice")),           # near dup of 1
    (4, "completely different text about spark and distributed joins"),
    (5, "another unrelated document mentioning parquet files only"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, content string").cache()


def test_exact_duplicates(docs):
    rows = {r["doc_id"]: r["keeper_id"] for r in exact_duplicates(docs).collect()}
    assert rows == {1: 1, 2: 1, 3: 3, 4: 4, 5: 5}


def test_jaccard_finds_near_dup(docs):
    sh = doc_shingles(docs)
    pairs = {(r["a"], r["b"]): r["jac_r"] for r in jaccard_pairs(sh).collect()}
    assert pairs[(1, 2)] == 1.0                   # identical shingle sets
    assert pairs[(1, 3)] > 0.8                    # one word changed
    assert (1, 4) not in pairs                    # nothing shared


def test_minhash_lsh_surfaces_near_dups(docs):
    sig = minhash_signatures_docs(docs)
    cand = {(r["a"], r["b"]): r["n_bands"] for r in lsh_candidate_pairs(sig).collect()}
    assert cand[(1, 2)] == 8                      # identical: all bands collide
    assert (1, 3) in cand                         # near dup: >=1 band
    assert (4, 5) not in cand


def test_minhash_matches_exploded_form(docs):
    """The one-kernel MinHash must equal min(h(s) XOR k_seed) over the
    exploded shingle rows (the definitional form / the DuckDB oracle),
    with h and k computed independently here in Python. Docs with fewer
    than n tokens emit no rows."""
    import hashlib

    with_tiny = docs.union(
        docs.sparkSession.createDataFrame(
            [(11, "one two"), (12, "")], "doc_id bigint, content string"
        )
    )
    sig = {
        (r["doc_id"], r["seed"]): r["minhash"]
        for r in minhash_signatures_docs(with_tiny, n=3).collect()
    }
    shingle_rows = doc_shingles(with_tiny, n=3).collect()
    ks = {s: int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16) for s in range(8)}
    ref: dict = {}
    for r in shingle_rows:
        h = int(hashlib.md5(r["s"].encode()).hexdigest()[:15], 16)
        for s, k in ks.items():
            key = (r["doc_id"], s)
            ref[key] = min(ref.get(key, 1 << 62), h ^ k)
    assert sig == ref
    assert not any(d in (11, 12) for d, _ in sig)


def test_lsh_hot_bucket_cap(spark):
    """A planted degenerate bucket (many docs, identical signatures) is
    dropped by max_bucket: pairs stay bounded instead of quadratic, and
    normal buckets are unaffected."""
    hot = [(i, "same boring license header text repeated everywhere here")
           for i in range(100, 150)]
    cold = [(1, "unique alpha beta gamma delta epsilon zeta eta theta"),
            (2, "unique alpha beta gamma delta epsilon zeta eta iota")]
    docs = spark.createDataFrame(hot + cold, "doc_id bigint, content string")
    sig = minhash_signatures_docs(docs)
    stats = lsh_bucket_stats(sig).collect()
    assert max(r["size"] for r in stats) == 50
    capped = lsh_candidate_pairs(sig, max_bucket=10).collect()
    ids = {x for r in capped for x in (r["a"], r["b"])}
    assert not ids & set(range(100, 150))         # hot bucket dropped whole
    assert any(r["a"] == 1 and r["b"] == 2 for r in capped)  # cold pair kept
    uncapped = lsh_candidate_pairs(sig).collect()
    assert len(uncapped) == len(capped) + 50 * 49 // 2


def test_simhash_near_pairs(docs):
    sim = simhash_docs(docs).cache()
    vals = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert vals[1] == vals[2]                     # identical docs, same hash
    near = {
        (r["a"], r["b"]): r["hamming"]
        for r in simhash_near_pairs(sim, max_hamming=10).collect()  # bands=11
    }
    assert near[(1, 2)] == 0
    assert (1, 3) in near and near[(1, 3)] <= 10
    assert (1, 4) not in near or near.get((1, 4), 99) > 10


def test_connected_components_transitive(spark):
    """A~B, B~C, D~E: {A,B,C} collapse to min id even though (A,C) never
    paired; {D,E} separate; F (no edges) absent."""
    from tfidf_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (40, 50)], "a long, b long"
    )
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 40: 40, 50: 40}


def test_connected_components_long_chain(spark):
    """A path graph needs diameter-many propagation rounds — exercises
    the iteration loop + lineage checkpointing, not just one join."""
    from tfidf_spark.operators.dedup import connected_components

    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a long, b long"
    )
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(edges).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_on_lsh_pairs(docs):
    """End-to-end: LSH pairs from the planted corpus produce one cluster
    holding the exact dup AND the near dup."""
    from tfidf_spark.operators.dedup import connected_components

    sig = minhash_signatures_docs(docs)
    pairs = lsh_candidate_pairs(sig)
    got = {r["doc_id"]: r["component_id"]
           for r in connected_components(pairs.select("a", "b")).collect()}
    assert got[1] == got[2] == got[3] == 1


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir swaps localCheckpoint for a RELIABLE checkpoint:
    labels identical on both algorithms, and checkpoint files actually
    land in the directory (the executor-loss-safe mode a real cluster
    needs for long CC runs)."""
    import os

    from tfidf_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (40, 50), (5, 6), (6, 7)], "a long, b long"
    )
    want = {r["doc_id"]: r["component_id"]
            for r in connected_components(edges).collect()}
    for algo in ("label", "star"):
        ckdir = str(tmp_path / f"ck_{algo}")
        got = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(
                edges, algorithm=algo, checkpoint_dir=ckdir
            ).collect()
        }
        assert got == want
        written = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ckdir)
            for f in fs
        ]
        assert written, f"no reliable checkpoint files written for {algo}"


def test_star_equals_label_on_small_graphs(spark):
    """large-star/small-star must produce byte-identical labels to
    min-label propagation on assorted graphs (seeded random + the
    transitive fixture)."""
    import random

    from tfidf_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    cases = [[(2, 1), (2, 3), (40, 50)]]
    for n, m in ((30, 25), (60, 80), (100, 60)):
        cases.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        )
    for edges_py in cases:
        edges_py = [(a, b) for a, b in edges_py if a != b]
        edges = spark.createDataFrame(edges_py, "a long, b long")
        label = {r["doc_id"]: r["component_id"]
                 for r in connected_components(edges, max_iter=120).collect()}
        star = {r["doc_id"]: r["component_id"]
                for r in connected_components_star(edges).collect()}
        assert star == label


def test_star_converges_in_log_rounds_where_label_prop_cannot(spark):
    """The escalation property the docstring promises (Kiveris et al.
    SoCC'14): on a 2048-node path graph, min-label propagation needs
    diameter (2047) rounds — it must RAISE at a 12-round cap — while the
    star variant converges in O(log n) rounds with correct labels."""
    import math

    import pytest as _pytest

    from tfidf_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 2048
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="algorithm='star'"):
        connected_components(edges, max_iter=12)

    stats = {}
    labels = connected_components_star(edges, stats=stats)
    assert stats["rounds"] <= 2 * int(math.log2(n)) + 4  # O(log n), not O(n)
    assert labels.filter("component_id != 0").count() == 0
    assert labels.count() == n


def test_auto_escalates_to_star(spark):
    """algorithm='auto' falls back to the star variant when label
    propagation hits its round cap, instead of raising."""
    from tfidf_spark.operators.dedup import connected_components

    n = 256
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    got = connected_components(edges, max_iter=8, algorithm="auto")
    assert got.filter("component_id != 0").count() == 0
    assert got.count() == n


def test_star_round_budget_is_forwarded(spark):
    """ADVICE r4: the star/auto paths must honor the caller's round
    budget instead of silently using the star default — a path graph
    needs ~2*log2(n) star rounds, so star_max_iter=1 must raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from tfidf_spark.operators.dedup import connected_components

    n = 64
    edges = (
        spark.range(n - 1)
        .select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    )
    with _pytest.raises(RuntimeError):
        connected_components(edges, algorithm="star", star_max_iter=1)
    got = connected_components(edges, algorithm="star", star_max_iter=32)
    assert got.select("component_id").distinct().count() == 1


def _py_simhash(text: str, bits: int = 60) -> int | None:
    """Count-weighted SimHash in plain Python: per term, md5 -> 60-bit
    int; bit i sums +cnt where the term's bit i is set, -cnt where not;
    a positive sum sets bit i. None for a zero-token doc."""
    import hashlib
    from collections import Counter

    counts = Counter(py_tokenize(text))
    if not counts:
        return None
    sums = [0] * bits
    for term, cnt in counts.items():
        h = int(hashlib.md5(term.encode()).hexdigest()[:15], 16)
        for i in range(bits):
            sums[i] += cnt if (h >> i) & 1 else -cnt
    return sum(1 << i for i in range(bits) if sums[i] > 0)


def test_simhash_docs_matches_python_reference(spark):
    """The zero-shuffle SimHash kernel equals a pure-Python SimHash,
    zero-token docs absent."""
    rows = DOCS + [(9, ""), (10, "!!! ...")]
    docs = spark.createDataFrame(rows, "doc_id bigint, content string")
    got = {r["doc_id"]: r["simhash"] for r in simhash_docs(docs).collect()}
    ref = {d: _py_simhash(t) for d, t in rows}
    assert got == {d: h for d, h in ref.items() if h is not None}
    assert 9 not in got and 10 not in got

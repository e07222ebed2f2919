"""Property tests of the MaxScore/block-max kernel (``_topk``) directly
on plain runs — no Spark, so hundreds of adversarial cases run in
seconds. Oracle: ``OracleIndex.bm25_topk``'s fold — per query-term
occurrence, in query order, each doc adds ``idf * w`` to a score that
starts at 0.0 — and scores are compared with ``==``.

This is the armor for the pruning math (θ bootstrap, non-essential
suffix, block skipping) and for the score fold: a bug that silently
drops a true top-k doc, or a summation order that moves a tied doc by
one ulp, shows up here long before the (slower) Spark rank-identity
suite."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from tfidf_spark.index.codec import encode_postings
from tfidf_spark.index.query import DECODE_STATS, _Run, _topk


def _make_runs(runs: list[tuple[str, float, np.ndarray, np.ndarray]]):
    out = []
    for term, idf, ids, ws in runs:
        pb, wb, block_last, block_max, block_off, _ = encode_postings(ids, ws)
        out.append(_Run(term, idf, pb, wb, block_last, block_max, block_off))
    return out


def _brute(runs, terms, k):
    postings: dict[str, tuple[float, dict[int, float]]] = {}
    for term, idf, ids, ws in runs:
        postings.setdefault(term, (idf, {}))[1].update(zip(ids.tolist(), ws.tolist()))
    scores: dict[int, float] = {}
    for term in terms:
        idf, docs = postings.get(term, (0.0, {}))
        for d, w in docs.items():
            scores[d] = scores.get(d, 0.0) + idf * w
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def _check(runs, terms, k):
    ids, scores = _topk(_make_runs(runs), terms, k)
    expect = _brute(runs, terms, k)
    assert ids.tolist() == [d for d, _ in expect]
    assert scores.tolist() == [s for _, s in expect]
    return ids, scores


@st.composite
def query_strategy(draw):
    """Distinct terms, each split into 1-3 runs over disjoint doc sets
    (shards / segments), weights drawn from a small shared pool so many
    docs tie exactly, and a query that repeats terms in any order."""
    n_terms = draw(st.integers(1, 4))
    universe = draw(st.integers(20, 400))
    rng = np.random.default_rng(draw(st.integers(0, 2**31)))
    pool = rng.random(draw(st.integers(1, 4))) + 0.05
    idf_pool = [draw(st.floats(0.0, 5.0, allow_nan=False)) for _ in range(2)]
    runs = []
    names = [f"t{i}" for i in range(n_terms)]
    for term in names:
        df = draw(st.integers(1, universe))
        ids = rng.choice(universe, size=df, replace=False).astype(np.int64) - universe // 2
        ws = rng.choice(pool, size=df)
        idf = idf_pool[draw(st.integers(0, 1))]
        for part in np.array_split(np.arange(df), draw(st.integers(1, 3))):
            if part.size:
                runs.append((term, idf, ids[part], ws[part]))
    extra = draw(st.lists(st.sampled_from(names), max_size=4))
    terms = draw(st.permutations(names + extra))
    return runs, terms


_ONE_RUN = [("a", 1.0, np.array([1, 2, 3]), np.array([0.5, 0.2, 0.9]))]
_TWO_RUNS = _ONE_RUN + [("b", 2.0, np.array([2, 4]), np.array([0.3, 0.1]))]


@settings(max_examples=300, deadline=None)
@given(query_strategy(), st.integers(0, 30))
# k = 0 on the one-run branch and on the MaxScore branch: no rows
@example((_ONE_RUN, ["a"]), 0)
@example((_TWO_RUNS, ["a", "b"]), 0)
# subnormal idf: the bound (2·idf)·w rounds one subnormal ulp below the
# tied exact score idf·w + idf·w, which a relative slack cannot cover
@example(
    (
        [
            ("t0", 5e-324, np.array([-6, -5]), np.array([0.68696169, 0.68696169])),
            ("t0", 5e-324, np.array([-10, -2]), np.array([0.68696169, 0.68696169])),
        ],
        ["t0", "t0"],
    ),
    1,
)
def test_kernel_matches_oracle_fold(query, k):
    runs, terms = query
    _check(runs, terms, k)


def test_doc_tied_with_kth_is_not_pruned():
    """Bounds and exact scores add in different orders: b's bound
    (3·2.44)·1.013 rounds one ulp BELOW doc 50's exact score
    (2.44·1.013 added three times), which ties doc 200's — the kth score
    θ. Without the slack on θ run b is non-essential, doc 50 is never
    scored and the tie-break returns doc 200 in its place."""
    runs = [
        ("a", 1.0, np.array([100, 200, 300]), np.array([10.0, 7.41516, 0.001])),
        ("b", 2.44, np.array([50]), np.array([1.013])),
    ]
    ids, _ = _check(runs, ["a", "b", "b", "b"], 2)
    assert ids.tolist() == [100, 50]


def test_kernel_skewed_long_lists():
    """One stop-like list (df=100k) + rare terms; k small — the regime
    where block-max pruning actually skips work."""
    rng = np.random.default_rng(0)
    stop_ids = np.sort(rng.choice(10**7, size=100_000, replace=False)).astype(np.int64)
    stop_ws = rng.random(100_000) * 0.2 + 0.01  # low weights
    rare_ids = rng.choice(stop_ids, size=50, replace=False)
    rare_ws = rng.random(50) * 2 + 1.0           # high weights
    runs = [("stop", 0.3, stop_ids, stop_ws), ("rare", 4.0, rare_ids, rare_ws)]
    _check(runs, ["stop", "rare"], 10)


def test_lazy_decode_skips_most_bytes():
    """The point of block_off: in the stop-list regime the kernel must
    skip DECODING (not just scoring) almost all of the long list. Here
    the rare list drives θ so high the stop list is non-essential — only
    its candidate-bearing blocks (≤ 50 of ~780) are ever varint-decoded."""
    rng = np.random.default_rng(0)
    stop_ids = np.sort(rng.choice(10**7, size=100_000, replace=False)).astype(np.int64)
    stop_ws = rng.random(100_000) * 0.2 + 0.01
    rare_ids = rng.choice(stop_ids, size=50, replace=False)
    rare_ws = rng.random(50) * 2 + 1.0
    runs = [("stop", 0.3, stop_ids, stop_ws), ("rare", 4.0, rare_ids, rare_ws)]
    DECODE_STATS["bytes_decoded"] = DECODE_STATS["bytes_total"] = 0
    _check(runs, ["stop", "rare"], 10)
    assert DECODE_STATS["bytes_total"] > 100_000  # the stop list is real
    assert DECODE_STATS["bytes_decoded"] < 0.15 * DECODE_STATS["bytes_total"]


def test_single_list_query_decodes_only_winner_blocks():
    """A lone stop-like term, repeated: ranking comes from the weights
    buffer, so only the top-k docs' blocks get varint-decoded."""
    rng = np.random.default_rng(3)
    ids = np.sort(rng.choice(10**7, size=50_000, replace=False)).astype(np.int64)
    ws = rng.random(50_000)  # continuous -> no k-th-score ties
    runs = [("stop", 0.5, ids, ws)]
    DECODE_STATS["bytes_decoded"] = DECODE_STATS["bytes_total"] = 0
    _check(runs, ["stop", "stop"], 10)
    assert DECODE_STATS["bytes_decoded"] < 0.05 * DECODE_STATS["bytes_total"]


def test_kernel_duplicate_free_and_sorted():
    rng = np.random.default_rng(1)
    runs = [
        ("a", 1.0, rng.choice(1000, 400, replace=False).astype(np.int64), rng.random(400)),
        ("b", 2.0, rng.choice(1000, 300, replace=False).astype(np.int64), rng.random(300)),
    ]
    ids, scores = _topk(_make_runs(runs), ["a", "b"], 50)
    assert len(set(ids.tolist())) == ids.size
    assert all(scores[i] >= scores[i + 1] for i in range(scores.size - 1))

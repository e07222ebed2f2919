"""BM25 top-k query over the compressed sharded index.

Scoring contract: every score is bit-identical to
``tfidf_spark.oracle.OracleIndex.bm25_topk``, so ties break score-desc
-> doc_id-asc exactly (SURVEY.md §2.5-W1). One kernel entry,
``_topk(runs, terms, k)``, decides the score on every query path (the
driver-local path on its collected runs, the batch paths once per
(query, shard) slice) with one fold, ``_score``: per distinct term a
column starting at 0.0 gathers ``idf * w`` from that term's runs, with
``idf = math.log(n_docs / df)`` (``_idf``); the columns are then added
left to right in query-term *occurrence* order, repeats included.

Which documents get scored is decided by **MaxScore with block-max
pruning** over the posting runs — exact top-k, vectorized:

1. Fully score the docs of the highest-upper-bound run; the kth best
   score is the pruning threshold θ.
2. Runs whose upper bounds sum (as a suffix) below θ are non-essential:
   no doc appearing ONLY in them can reach top-k.
3. Remaining essential runs generate extra candidates, but only from
   blocks whose ``bound(block_max) + Σ other-run upper bounds ≥ θ`` —
   the block-max skip. Candidates get exact scores; merge; top-k.

A run's upper bound is ``q_cnt · idf · block_max``. Bounds add in
another order than exact scores, so θ is lowered by a relative 1e-12
before bound comparisons: a document tied with the kth is never pruned.

Shards hold disjoint doc sets, so per-shard top-k union ⊇ global top-k and
the final window merge is exact. Hot (stop-like) terms therefore never
serialize through one task — the index keeps them sharded.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tfidf_spark.index.builder import IndexHandle
from tfidf_spark.index.codec import BLOCK_SIZE, decode_block, decode_postings

_KERNEL_SCHEMA = "query_id long, k int, doc_id long, score double"

# Decode accounting, meaningful when the kernel runs in-process (the
# local fast path / tests): bytes actually varint-decoded vs the bytes an
# eager decoder would have touched. On executors each Python worker has
# its own copy — treat it as diagnostics, not a metric aggregation.
DECODE_STATS = {"bytes_decoded": 0, "bytes_total": 0}

# relative slack on θ for bound comparisons (see module docstring)
_THETA_SLACK = 1e-12


def _idf(n_docs: int, df: int) -> float:
    """The one idf of every query path: Python's ``math.log``, as the
    oracle computes it."""
    return math.log(n_docs / int(df))


class _Run:
    """One (term, shard) posting run, decoded block-by-block on demand.

    Lazy decode is the point of the block-max layout: for a stop-like
    term at corpus scale the run is most of the shard, and a top-k query
    usually needs only the blocks that (a) contain a candidate from a
    rarer run or (b) beat the score threshold θ. Everything else is
    never even varint-decoded — the bytes are skipped via block_off.
    Signed docID order == sign-flipped unsigned order (codec invariant),
    so plain signed searchsorted is valid everywhere below.
    """

    __slots__ = ("term", "idf", "pb", "wb", "bl", "bm", "off", "n_blocks", "_cache")

    def __init__(self, term, idf, pb, wb, block_last, block_max, block_off):
        self.term = term
        self.idf = float(idf)
        self.pb = pb
        self.wb = wb
        self.bl = np.asarray(block_last, dtype=np.int64)
        self.bm = np.asarray(block_max, dtype=np.float64)
        self.off = np.asarray(block_off, dtype=np.int64)
        self.n_blocks = self.bl.size
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        DECODE_STATS["bytes_total"] += len(pb)

    def block(self, i: int):
        got = self._cache.get(i)
        if got is None:
            got = decode_block(self.pb, self.wb, self.bl, self.off, i)
            self._cache[i] = got
            hi = int(self.off[i + 1]) if i + 1 < self.n_blocks else len(self.pb)
            DECODE_STATS["bytes_decoded"] += hi - int(self.off[i])
        return got

    def decode_all(self):
        DECODE_STATS["bytes_decoded"] += len(self.pb)
        return decode_postings(self.pb, self.wb)

    def gather(self, cand: np.ndarray, col: np.ndarray) -> None:
        """col[j] = idf * weight(cand[j]) for every cand[j] present in
        this run. Decodes ONLY the blocks that could contain a candidate
        (block b holds ids in (block_last[b-1], block_last[b]])."""
        if not self.n_blocks or not cand.size:
            return
        blk = np.searchsorted(self.bl, cand, side="left")
        inrange = blk < self.n_blocks
        for b in np.unique(blk[inrange]):
            sel = np.flatnonzero(blk == b)
            ids, w = self.block(int(b))
            pos = np.searchsorted(ids, cand[sel])
            pos_c = np.minimum(pos, ids.size - 1)
            hit = (pos < ids.size) & (ids[pos_c] == cand[sel])
            col[sel[hit]] = self.idf * w[pos_c[hit]]


def _runs(rows, idf_of) -> list[_Run]:
    """Runs from index rows (Spark Rows or pandas itertuples)."""
    return [
        _Run(r.term, idf_of(r), bytes(r.postings), bytes(r.weights),
             r.block_last, r.block_max, r.block_off)
        for r in rows
    ]


def _fold(cols: dict[str, np.ndarray], terms: list[str], n: int) -> np.ndarray:
    """Add the per-term columns left to right in query-term occurrence
    order. A term without a column has no run and adds only 0.0."""
    s = np.zeros(n, dtype=np.float64)
    for t in terms:
        col = cols.get(t)
        if col is not None:
            s += col
    return s


def _score(cand, runs, terms, cols=None) -> np.ndarray:
    """Exact scores of ``cand``: each run gathers into its term's column
    (starting at 0.0 unless ``cols`` already holds it), then ``_fold``."""
    cols = dict(cols or {})
    for r in runs:
        col = cols.get(r.term)
        if col is None:
            col = cols[r.term] = np.zeros(cand.size, dtype=np.float64)
        r.gather(cand, col)
    return _fold(cols, terms, cand.size)


def _topk(runs: list[_Run], terms: list[str], k: int):
    """Exact top-k ``(doc_ids, scores)`` over ``runs`` for the query-term
    occurrence list ``terms``, ordered score-desc, doc_id-asc."""
    lists = [r for r in runs if r.n_blocks]
    if not lists or k <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    # single-run query (e.g. a lone stop-like term): the ranking is
    # determined by the weights buffer alone, which is a raw float64 read
    # — no varint decode needed. Decode only the blocks holding the
    # winners (+ their score-ties, so the doc_id tie-break stays exact).
    if len(lists) == 1:
        L = lists[0]
        w = np.frombuffer(L.wb, dtype=np.float64)
        s = _fold({L.term: L.idf * w}, terms, w.size)
        if s.size > k:
            kth = np.partition(s, s.size - k)[s.size - k]
            cand_pos = np.flatnonzero(s >= kth)
        else:
            cand_pos = np.arange(s.size)
        ids = np.empty(cand_pos.size, dtype=np.int64)
        for b in np.unique(cand_pos // BLOCK_SIZE):
            blk_ids, _ = L.block(int(b))
            lo = b * BLOCK_SIZE
            sel = (cand_pos >= lo) & (cand_pos < lo + blk_ids.size)
            ids[sel] = blk_ids[cand_pos[sel] - lo]
        sc = s[cand_pos]
        order = np.lexsort((ids, -sc))[:k]
        return ids[order], sc[order]

    # upper bound of one occurrence-weighted term contribution; negative-
    # idf (df == N) terms still contribute, so bounds use max(., 0)
    reps = Counter(terms)
    ranked = sorted(
        ((reps[L.term] * L.idf, L) for L in lists),
        key=lambda p: -(p[0] * float(p[1].bm.max())),
    )
    scale = [c for c, _ in ranked]
    lists = [L for _, L in ranked]
    U = np.array([max(c * float(L.bm.max()), 0.0) for c, L in ranked])

    # pass 1: all docs of the top-bound run (typically the rarest term —
    # hot stop-like terms have low idf and land at the tail), fully
    # scored. The top run's own column comes straight from its decoded
    # weights; its term's other runs hold none of these docs, and other
    # terms' runs decode only candidate-bearing blocks.
    top = lists[0]
    cand0, w0 = top.decode_all()
    s0 = _score(
        cand0,
        [L for L in lists if L.term != top.term],
        terms,
        {top.term: top.idf * w0},
    )
    if cand0.size > k:
        theta = np.partition(s0, cand0.size - k)[cand0.size - k]
        theta -= _THETA_SLACK * abs(theta)
    else:
        theta = -np.inf

    # non-essential suffix: maximal suffix with cumulative U < theta
    tailsum = np.cumsum(U[::-1])[::-1]  # tailsum[i] = U[i:] sum
    n_essential = len(lists)
    for i in range(len(lists) - 1, 0, -1):
        if tailsum[i] < theta:
            n_essential = i
        else:
            break

    extra_parts = []
    for t in range(1, n_essential):
        L = lists[t]
        rest = U.sum() - U[t]
        # clamp like U: if idf were ever negative (df > n_docs from stats
        # drift) the unclamped product is NOT an upper bound and pruning
        # would turn unsound.
        keep_block = (np.maximum(scale[t] * L.bm, 0.0) + rest) >= theta
        for b in np.flatnonzero(keep_block):
            ids, _ = L.block(int(b))
            extra_parts.append(ids)
    all_ids, all_s = cand0, s0
    if extra_parts:
        extra = np.unique(np.concatenate(extra_parts))
        pos = np.searchsorted(cand0, extra)
        pos_c = np.minimum(pos, cand0.size - 1)
        fresh = extra[~((pos < cand0.size) & (cand0[pos_c] == extra))]
        if fresh.size:
            # a fresh candidate is by definition absent from the top run
            # (cand0 IS that run), so only lists[1:] can contribute
            all_ids = np.concatenate([cand0, fresh])
            all_s = np.concatenate([s0, _score(fresh, lists[1:], terms)])

    order = np.lexsort((all_ids, -all_s))[:k]
    return all_ids[order], all_s[order]


def _topk_slice(pdf: pd.DataFrame, n_docs: int) -> pd.DataFrame:
    """``_topk`` over the rows of one (query_id, shard) slice; each row is
    one run and carries the query's ``terms`` array and its term's df."""
    query_id = int(pdf["query_id"].iloc[0])
    k = int(pdf["k"].iloc[0])
    runs = _runs(pdf.itertuples(index=False), lambda r: _idf(n_docs, r.df))
    ids, scores = _topk(runs, list(pdf["terms"].iloc[0]), k)
    return pd.DataFrame(
        {
            "query_id": np.full(ids.size, query_id, dtype=np.int64),
            "k": np.full(ids.size, k, dtype=np.int32),
            "doc_id": ids,
            "score": scores,
        }
    )


def _topk_stream(batches, n_docs: int):
    """mapInPandas kernel over rows hash-partitioned by (query_id,
    shard) and sorted so each group's rows are adjacent: slice group
    boundaries per Arrow batch (carrying a possibly-continuing tail) and
    run the kernel per slice. Replaces groupBy().applyInPandas, whose
    ~2 ms per-group Arrow round-trip dominated the batch path at
    queries x shards groups (r8 profile: ~1.4 s of the 2.2 s batch50
    main job)."""
    pend: pd.DataFrame | None = None
    for pdf in batches:
        if pend is not None:
            pdf = pd.concat([pend, pdf], ignore_index=True)
            pend = None
        if not len(pdf):
            continue
        q = pdf["query_id"].to_numpy()
        s = pdf["shard"].to_numpy()
        change = np.empty(len(pdf), dtype=bool)
        change[0] = True
        change[1:] = (q[1:] != q[:-1]) | (s[1:] != s[:-1])
        starts = np.flatnonzero(change)
        if len(starts) == 1:
            pend = pdf
            continue
        tail = int(starts[-1])
        pend = pdf.iloc[tail:].reset_index(drop=True)
        bounds = np.append(starts[:-1], tail)
        for i in range(len(bounds) - 1):
            yield _topk_slice(pdf.iloc[bounds[i] : bounds[i + 1]], n_docs)
    if pend is not None and len(pend):
        yield _topk_slice(pend, n_docs)


def bm25_query_index(
    index: IndexHandle,
    queries: DataFrame,
    prune_by_collect: bool = True,
    known_terms: list[str] | None = None,
) -> DataFrame:
    """Batch BM25 over the index.

    queries: ``(query_id long, terms array<string>, k int)``.
    Returns ``(query_id, doc_id, score, rank)``, rank 1..k per query,
    ordered by the deterministic tie-break.

    ``prune_by_collect``: collect the query rows driver-side and push an
    IN-filter on their distinct terms into the index scan. The filter
    drops non-matching runs before the join, but parquet min/max stats
    prune (almost) no row group: runs are stored in ``xxhash64(term)``
    order (builder.write_runs).
    ``False`` keeps the batch distributed (no collect, no IN-filter), but
    the (query, term) table is still BROADCAST into the postings join,
    so a batch too large to collect is also shipped whole to every
    executor.
    """
    spark = queries.sparkSession
    # One row per (query, distinct term); the query's whole ``terms``
    # array rides along, so the kernel folds per occurrence in query
    # order. prune_by_collect=True already commits to collecting the
    # batch's distinct terms driver-side, so the batch is
    # driver-manageable by contract — collect the query ROWS instead
    # (one plain scan job, no shuffle) and build qterms and the original
    # k as literal local relations. Distributed batches
    # (prune_by_collect=False) keep the general plan.
    if prune_by_collect:
        qrows = [
            (int(r["query_id"]), int(r["k"]), list(r["terms"] or []))
            for r in queries.collect()
        ]
        qterms = spark.createDataFrame(
            [(q, k, ts, t) for q, k, ts in qrows for t in dict.fromkeys(ts)],
            "query_id long, k int, terms array<string>, term string",
        )
        orig_k = spark.createDataFrame(
            [(q, k) for q, k, _ in qrows], "query_id long, k_orig int"
        )
    else:
        qterms = queries.select(
            "query_id", "k", "terms", F.explode(F.array_distinct("terms")).alias("term")
        )
        orig_k = queries.select("query_id", F.col("k").alias("k_orig"))
    # Tombstoned docs are filtered AFTER the kernel; each per-shard top-k
    # over-fetches by the UNAPPLIED tombstone count so the final top-k
    # never under-fills (tombstones already physically applied by
    # patch_deletes cannot surface, so they need no headroom).
    n_ts = index.n_tombstones
    n_unapplied = index.n_unapplied_tombstones
    if n_unapplied:
        qterms = qterms.withColumn(
            "k", (F.col("k") + F.lit(n_unapplied)).cast("int")
        )

    tp = index.term_postings
    ts = index.term_stats
    if prune_by_collect:
        if known_terms is not None:
            terms = sorted(set(known_terms))
        else:
            terms = sorted({t for _, _, q_terms in qrows for t in q_terms})
        if not terms:
            return spark.createDataFrame(
                [], "query_id long, doc_id long, score double, rank int"
            )
        tp = tp.filter(F.col("term").isin(terms))
        ts = ts.filter(F.col("term").isin(terms))

    q_with_df = qterms.join(ts, "term", "left").select(
        "query_id", "k", "terms", "term",
        F.coalesce(F.col("df"), F.lit(1)).alias("df"),
    )
    rows = tp.join(F.broadcast(q_with_df), "term", "inner").select(
        "query_id", "k", "terms", "term", "df", "shard",
        "postings", "weights", "block_last", "block_max", "block_off",
    )
    n_docs = index.n_docs
    per_shard = (
        rows.repartition("query_id", "shard")
        .sortWithinPartitions("query_id", "shard", "term")
        .mapInPandas(lambda batches: _topk_stream(batches, n_docs), _KERNEL_SCHEMA)
    )
    if n_ts:
        per_shard = per_shard.join(
            F.broadcast(index.tombstones), "doc_id", "left_anti"
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = per_shard.withColumn("rank", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(orig_k), "query_id")
        .filter(F.col("rank") <= F.col("k_orig"))
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_query_terms(
    index: IndexHandle, terms: list[str], k: int = 10
) -> DataFrame:
    """Single ad-hoc query -> ``(doc_id, score)`` ordered, limit k."""
    spark = index.spark
    q = spark.createDataFrame(
        [(0, terms, k)], "query_id long, terms array<string>, k int"
    )
    return (
        bm25_query_index(index, q, known_terms=terms)
        .select("doc_id", "score")
        .orderBy("rank")
    )


def bm25_query_terms_local(
    index: IndexHandle, terms: list[str], k: int = 10, df_budget: int = 2_000_000
) -> list[tuple[int, float]]:
    """Low-latency single-query path: ONE pruned scan collects the
    query's (term, shard) runs to the driver (a few compressed blobs),
    then the kernel runs locally — no shuffle, no window, no Python-worker
    round trip. This is the query-coordinator pattern a serving tier
    uses; the distributed path (bm25_query_terms) is for query BATCHES.
    Exact same scores: shards are disjoint doc sets, so feeding each run
    to the kernel double-counts nothing, and df(term) = Σ df_shard of
    the collected runs.

    ``df_budget`` guards the driver: a stop-like term's posting list is
    proportional to the corpus, and collecting it would OOM the driver at
    10^12 files. term_stats (one tiny pruned scan, one row per query
    term) is consulted FIRST; if Σ df exceeds the budget the query is
    delegated to the distributed kernel (``bm25_query_index``), which
    returns identical results — the executors decode, the driver only
    sees k rows.
    """
    if not terms or k <= 0:
        return []
    distinct = sorted(set(terms))
    df_dict = getattr(index, "_df_dict", None)
    if df_dict is not None:
        # warmed handle (IndexHandle.warm): the term dictionary is
        # coordinator-resident, so the budget precheck costs no Spark job
        # and vocabulary misses short-circuit with zero jobs
        total_df = sum(df_dict.get(t, 0) for t in distinct)
        if total_df == 0:
            return []
    else:
        total_df = (
            index.term_stats.filter(F.col("term").isin(distinct))
            .agg(F.sum("df").alias("s"))
            .collect()[0]["s"]
            or 0
        )
    if total_df > df_budget:
        out = bm25_query_terms(index, terms, k=k).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in out]
    rows = (
        index.term_postings.filter(F.col("term").isin(distinct))
        .select(
            "term", "shard", "df_shard",
            "postings", "weights", "block_last", "block_max", "block_off",
        )
        .collect()
    )
    if not rows:
        return []
    df_total: dict[str, int] = {}
    for r in rows:
        df_total[r["term"]] = df_total.get(r["term"], 0) + r["df_shard"]
    ts = index.tombstones
    deleted = (
        {r["doc_id"] for r in ts.collect()} if index.n_tombstones else set()
    )
    runs = _runs(rows, lambda r: _idf(index.n_docs, df_total[r.term]))
    ids, scores = _topk(runs, list(terms), k + len(deleted))
    result = [
        (int(d), float(s)) for d, s in zip(ids, scores) if int(d) not in deleted
    ]
    return result[:k]

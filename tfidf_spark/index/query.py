"""BM25 top-k query over the compressed sharded index.

Two places answer queries, with one kernel:

- the **query coordinator** (the driver, ``_coordinator_topk``) serves
  single local queries (``bm25_query_terms_local``, ``bm25_query_terms``)
  and collected batches (``bm25_query_index(prune_by_collect=True)``):
  the terms' runs come to the driver still encoded (from the warm run
  cache, else one pruned scan) and the kernel runs per query, as the
  reference ranks in-process over its relational index (SURVEY.md §2.5);
- the **executor kernel** (``_executor_topk``) serves the join path
  (``prune_by_collect=False``) and any query or batch whose terms' Σ df
  exceeds the coordinator's ``DF_BUDGET``: a broadcast postings join, a
  (query_id, shard) repartition through a mapInPandas kernel, a
  tombstone anti-join and a rank window.

Scoring contract: every score is bit-identical to
``tfidf_spark.oracle.OracleIndex.bm25_topk``, so ties break score-desc
-> doc_id-asc exactly (SURVEY.md §2.5-W1). One kernel entry,
``_topk(runs, terms, k)``, decides the score on every query path (on
the coordinator per query, on the executors once per (query, shard)
slice) with one fold, ``_score``: per distinct term a
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
another order than exact scores, so θ is lowered by a relative 1e-12,
plus the smallest normal float (products in the subnormal range round
with an absolute, not a relative, error), before bound comparisons: a
document tied with the kth is never pruned.

Shards hold disjoint doc sets, so per-shard top-k union ⊇ global top-k and
the executor path's final window merge is exact. Hot (stop-like) terms therefore never
serialize through one task — the index keeps them sharded.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tfidf_spark.index.builder import RUN_COLUMNS, IndexHandle, arrow_runs, sorted_groups
from tfidf_spark.index.codec import BLOCK_SIZE, decode_block, decode_postings

_KERNEL_SCHEMA = "query_id long, k int, doc_id long, score double"
_QUERY_SCHEMA = "query_id long, terms array<string>, k int"
_RESULT_SCHEMA = "query_id long, doc_id long, score double, rank int"

# Σ df (postings) of a query's or a collected batch's distinct terms up
# to which the coordinator answers it on the driver; past it the
# executor kernel does
DF_BUDGET = 2_000_000

# Decode accounting, meaningful when the kernel runs in-process (the
# local fast path / tests): bytes actually varint-decoded vs the bytes an
# eager decoder would have touched. On executors each Python worker has
# its own copy — treat it as diagnostics, not a metric aggregation.
DECODE_STATS = {"bytes_decoded": 0, "bytes_total": 0}

# relative slack and absolute floor on θ for bound comparisons (see the
# module docstring)
_THETA_SLACK = 1e-12
_THETA_FLOOR = np.finfo(np.float64).tiny


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
        theta -= _THETA_SLACK * abs(theta) + _THETA_FLOOR
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
    runs = [
        _Run(r.term, _idf(n_docs, r.df), bytes(r.postings), bytes(r.weights),
             r.block_last, r.block_max, r.block_off)
        for r in pdf.itertuples(index=False)
    ]
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
    shard) and sorted so each group's rows are adjacent: run the kernel
    once per complete (query_id, shard) slice (``builder.sorted_groups``).
    Replaces groupBy().applyInPandas, whose ~2 ms per-group Arrow
    round-trip dominated the batch path at queries x shards groups (r8
    profile: ~1.4 s of the 2.2 s batch50 main job)."""
    for pdf, starts in sorted_groups(batches, "query_id", "shard"):
        bounds = np.append(starts, len(pdf))
        for lo, hi in zip(bounds[:-1], bounds[1:]):
            yield _topk_slice(pdf.iloc[lo:hi], n_docs)


def _coordinator_topk(
    index: IndexHandle, qrows: list[tuple[int, int, list[str]]], df_budget: int
) -> list[list[tuple[int, float]]] | None:
    """Top-k of every ``(query_id, k, terms)`` row on the query
    coordinator (the driver): one ``[(doc_id, score), ...]`` per row in
    rank order, or None when Σ df of the rows' distinct terms exceeds
    ``df_budget`` — a stop-like term's runs grow with the corpus, and the
    caller then hands the batch to the executor kernel. Each query runs
    ``_topk`` with ``k`` raised by the tombstone count, then drops
    tombstoned ids; a term's ``_Run`` objects (and the blocks they
    decode) are shared by every query of the batch."""
    distinct = sorted({t for _, k, terms in qrows if k > 0 for t in terms})
    if not distinct:
        return [[] for _ in qrows]
    df_dict = index._df_dict
    if df_dict is not None:
        # warmed handle: the budget precheck costs no Spark job and
        # vocabulary misses short-circuit with zero jobs
        total_df = sum(df_dict.get(t, 0) for t in distinct)
    else:
        # a plain select: an aggregate collect runs 2 jobs under AQE
        total_df = sum(
            r["df"]
            for r in index.term_stats.filter(F.col("term").isin(distinct))
            .select("df")
            .collect()
        )
    if total_df > df_budget:
        return None
    if total_df == 0:
        return [[] for _ in qrows]
    runs_of = index._run_cache
    if runs_of is None:
        runs_of = arrow_runs(
            index.term_postings.filter(F.col("term").isin(distinct))
            .select(*RUN_COLUMNS)
            .toArrow()
        )
    runs_of_term = {}
    for t in distinct:
        found = runs_of.get(t, ())
        if found:
            idf = _idf(index.n_docs, sum(run[0] for run in found))
            runs_of_term[t] = [_Run(t, idf, *run[1:]) for run in found]
    deleted = index.deleted_ids
    out = []
    for _, k, terms in qrows:
        runs = [r for t in sorted(set(terms)) for r in runs_of_term.get(t, ())]
        if k <= 0 or not runs:
            out.append([])
            continue
        ids, scores = _topk(runs, list(terms), k + len(deleted))
        hits = [(int(d), float(s)) for d, s in zip(ids, scores) if int(d) not in deleted]
        out.append(hits[:k])
    return out


def _executor_topk(
    index: IndexHandle, queries: DataFrame, terms: list[str] | None = None
) -> DataFrame:
    """The executor kernel over a query DataFrame ``(query_id, terms,
    k)`` -> ``(query_id, doc_id, score, rank)``: the (query, term) table
    is broadcast into the postings join, rows are hash-partitioned by
    (query_id, shard) through the mapInPandas MaxScore kernel, tombstones
    are anti-joined and a window merges the per-shard top-k. ``terms``,
    when the caller collected the batch's distinct terms, is pushed as an
    IN-filter into the index scan; parquet min/max stats prune (almost)
    no row group, since runs are stored in ``xxhash64(term)`` order
    (builder.write_runs)."""
    # One row per (query, distinct term); the query's whole ``terms``
    # array rides along, so the kernel folds per occurrence in query order.
    qterms = queries.select(
        "query_id", "k", "terms", F.explode(F.array_distinct("terms")).alias("term")
    )
    orig_k = queries.select("query_id", F.col("k").alias("k_orig"))
    # Tombstoned docs are filtered AFTER the kernel; each per-shard top-k
    # over-fetches by the UNAPPLIED tombstone count so the final top-k
    # never under-fills (tombstones already physically applied by
    # patch_deletes cannot surface, so they need no headroom).
    n_unapplied = index.n_unapplied_tombstones
    if n_unapplied:
        qterms = qterms.withColumn(
            "k", (F.col("k") + F.lit(n_unapplied)).cast("int")
        )

    tp = index.term_postings
    ts = index.term_stats
    if terms is not None:
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
    if index.n_tombstones:
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


def _local_frame(spark, rows: list[tuple], schema: str) -> DataFrame:
    """``rows`` as a DataFrame over a local relation: built from an Arrow
    table it is a ``LocalTableScan``, empty or not, whose collect runs no
    Spark job (~40 ms to create and collect two rows, local[2]); one
    built from a Python list (or an empty pandas frame) is an RDD scan
    and runs one."""
    names = [f.split()[0] for f in schema.split(",")]
    cols = list(zip(*rows)) or [()] * len(names)
    return spark.createDataFrame(pa.table([list(c) for c in cols], names=names), schema)


def bm25_query_index(
    index: IndexHandle, queries: DataFrame, prune_by_collect: bool = True
) -> DataFrame:
    """Batch BM25 over the index.

    queries: ``(query_id long, terms array<string>, k int)``.
    Returns ``(query_id, doc_id, score, rank)``, rank 1..k per query,
    ordered by the deterministic tie-break.

    ``prune_by_collect=True`` (the collected batch) collects the query
    rows to the driver — the batch fits there by contract — and the
    coordinator answers it (``_coordinator_topk``: the same code as
    ``bm25_query_terms_local``); the result is a local relation. When Σ
    df of the batch's distinct terms exceeds ``DF_BUDGET`` the executor
    kernel answers instead, with an IN-filter on those terms pushed into
    the index scan.
    ``prune_by_collect=False`` (the join path) keeps the batch
    distributed: no collect, no IN-filter, the executor kernel. The
    (query, term) table is still BROADCAST into the postings join, so a
    batch too large to collect is also shipped whole to every executor.
    """
    if not prune_by_collect:
        return _executor_topk(index, queries)
    qrows = [
        (int(r["query_id"]), int(r["k"]), list(r["terms"] or []))
        for r in queries.collect()
    ]
    got = _coordinator_topk(index, qrows, DF_BUDGET)
    if got is None:
        return _executor_topk(
            index, queries, sorted({t for _, _, terms in qrows for t in terms})
        )
    return _local_frame(
        queries.sparkSession,
        [
            (q, d, s, rank)
            for (q, _, _), hits in zip(qrows, got)
            for rank, (d, s) in enumerate(hits, 1)
        ],
        _RESULT_SCHEMA,
    )


def bm25_query_terms(
    index: IndexHandle, terms: list[str], k: int = 10
) -> DataFrame:
    """Single ad-hoc query -> ``(doc_id, score)`` ordered, limit k: a
    local relation over ``bm25_query_terms_local``'s answer."""
    return _local_frame(
        index.spark, bm25_query_terms_local(index, terms, k), "doc_id long, score double"
    )


def bm25_query_terms_local(
    index: IndexHandle, terms: list[str], k: int = 10, df_budget: int = DF_BUDGET
) -> list[tuple[int, float]]:
    """Low-latency single-query path, the coordinator's batch of one:
    the query's (term, shard) runs come to the driver still encoded (a
    few compressed blobs) and the kernel runs locally — no shuffle, no
    window, no Python-worker round trip. This is the query-coordinator
    pattern a serving tier uses; the same code answers collected batches
    (``bm25_query_index(prune_by_collect=True)``), and the executor
    kernel serves the join path and over-budget batches. Exact same
    scores: shards are disjoint doc sets, so feeding each run to the
    kernel double-counts nothing, and df(term) = Σ df_shard of the runs.

    Where the runs come from: a warmed handle (``IndexHandle.warm``)
    holds them all in its run cache, and together with its term->df
    dictionary and ``deleted_ids`` a query then runs no Spark job. A cold
    handle, or one whose index exceeded the cache budget, gets them from
    ONE pruned ``toArrow`` scan. Both sources go through
    ``builder.arrow_runs``; everything after is the same code.

    ``df_budget`` guards the driver: a stop-like term's posting list is
    proportional to the corpus, and collecting it would OOM the driver at
    10^12 files. The terms' df is looked up FIRST (in the warm dictionary,
    else one tiny pruned term_stats scan); if Σ df exceeds the budget the
    query goes to the executor kernel, which returns identical results —
    the executors decode, the driver only sees k rows.
    """
    got = _coordinator_topk(index, [(0, k, list(terms))], df_budget)
    if got is not None:
        return got[0]
    q = index.spark.createDataFrame([(0, list(terms), k)], _QUERY_SCHEMA)
    out = _executor_topk(index, q, sorted(set(terms))).orderBy("rank").collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in out]

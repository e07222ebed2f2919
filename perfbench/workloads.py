"""The benchmark's two workloads, their seeded inputs and output checks.

``build``  full snapshot cycle: load the pinned base snapshot, build the
           index, run both near-duplicate passes over the same documents,
           then warm the fresh index and answer a stream of driver-local
           queries against it.
``refresh`` writes beside reads on one index: each op fetches a delta
           snapshot through change data capture, merges it onto the base
           index, tombstones a few live documents and answers two query
           batches (collected-terms and shuffle-join) on a cold handle.

README.md in this directory says why these two and which layer figure
should move which end-to-end figure. Every op is a sequence of timed
calls into the engine's public functions; output checks run after the
op, outside every timed region.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

# Input sizes at scale 1.0. At this size a warm build takes a few
# seconds, about 80% of it per-job fixed cost (README.md), and one run
# of either workload (fresh JVM, set-up, warm-up, one window) takes
# about a minute.
BUILD_DOCS = 3000
REFRESH_BASE_DOCS = 3000
DELTA_DOCS = 300
N_DELTAS = 3  # delta snapshots; ops cycle through them
DELETES_PER_OP = 3
SERVE_QUERIES = 30  # two periods of reference_queries (5 query kinds x 3 k values)
BATCH_COLLECT = 50
BATCH_JOIN = 200
MAX_BUCKET = 100


@dataclass
class OpResult:
    wall: float = 0.0
    # (job group, call name, wall seconds), one per timed call
    spans: list[tuple[str, str, float]] = field(default_factory=list)
    # named per-op figures (end-to-end inputs and layer figures)
    figures: dict[str, float] = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)
    error: str | None = None

    @property
    def failed(self) -> bool:
        """The op raised, or one of its output checks failed."""
        return bool(self.error or self.problems)


class Recorder:
    """Times each call of one op and tags it with a job group."""

    def __init__(self, tracer, tag: str, result: OpResult):
        self.tracer = tracer
        self.tag = tag
        self.result = result
        self._start: float | None = None

    @contextmanager
    def call(self, name: str):
        """Time one call. The op's wall runs from its first call's start
        to its last call's end, so input picking before the op and
        output checks after it are outside it."""
        gid = f"{self.tag}/{name}/{len(self.result.spans)}"
        self.tracer.group(gid)
        t0 = time.perf_counter()
        if self._start is None:
            self._start = t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.tracer.group(None)
            self.result.spans.append((gid, name, t1 - t0))
            self.result.wall = t1 - self._start

    def total(self, *names: str) -> float:
        return sum(w for _, n, w in self.result.spans if n in names)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    scale: float
    cpus: int

    def size(self, n: int, floor: int) -> int:
        return max(floor, round(n * self.scale))

    @property
    def n_shards(self) -> int:
        return max(4, self.cpus // 2)


def _query_df(spark, queries):
    return spark.createDataFrame(queries, "query_id long, terms array<string>, k int")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "*.parquet")))


def _postings_digest(path: str) -> str:
    """sha256 of the term_postings table in (term, shard) order, over
    an Arrow IPC stream of the combined table (independent of file and
    row-group layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path).replace_schema_metadata(None)
    t = t.sort_by([("term", "ascending"), ("shard", "ascending")]).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _compare_ranked(label, got, ranked, k, exclude, res) -> None:
    """Rank identity with the oracle, as tests/test_rank_identity.py
    checks it. ``ranked`` is the oracle's full ranking (doc_id, score) in
    score-desc, doc_id-asc order; documents in ``exclude`` are
    tombstoned. The engine's top-k doc_ids must be exactly the oracle's
    first k live ones, in the same order, and each engine score must be
    within rel 1e-9 of the oracle's."""
    expect = [(d, s) for d, s in ranked if d not in exclude][:k]
    got_ids, want_ids = [d for d, _ in got], [d for d, _ in expect]
    if got_ids != want_ids:
        i = next((i for i, (g, w) in enumerate(zip(got_ids, want_ids)) if g != w),
                 min(len(got_ids), len(want_ids)))
        res.problems.append(
            f"{label}: doc_ids differ from the oracle's from rank {i + 1}: "
            f"{got[i:i + 2]} vs {expect[i:i + 2]}"
        )
        return
    for (d, s), (_, e_score) in zip(got, expect):
        if not math.isclose(s, e_score, rel_tol=1e-9):
            res.problems.append(f"{label}: doc {d} score {s!r} != oracle {e_score!r}")
            return


def _corpus_rows(df):
    return {int(r["doc_id"]): r["content"] for r in df.select("doc_id", "content").collect()}


class Build:
    """Full snapshot cycle over the pinned base snapshot."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_docs = ctx.size(BUILD_DOCS, 200)
        self.table = os.path.join(ctx.work, "table")
        self.ops = 0
        self.reference: dict | None = None

    def setup(self) -> dict[str, float]:
        from tfidf_spark.oracle import OracleIndex
        from tfidf_spark.sources import catalog, iceberg_meta
        from tfidf_spark.sources.corpus import reference_queries, synth_corpus, with_doc_id

        spark, ctx = self.ctx.spark, self.ctx
        t0 = time.perf_counter()
        corpus = synth_corpus(spark, self.n_docs, seed=ctx.seed, partitions=ctx.cpus)
        catalog.write_table(corpus, self.table, fmt="iceberg")
        self.snapshot = iceberg_meta.snapshot_ids(self.table)[-1]
        t1 = time.perf_counter()
        df, _ = catalog.load_corpus(spark, self.table, fmt="iceberg", snapshot_id=self.snapshot)
        oracle = OracleIndex(_corpus_rows(with_doc_id(df)))
        self.queries = reference_queries(SERVE_QUERIES, seed=ctx.seed + 1)
        self.expect = [oracle.bm25_topk(terms, len(oracle.counts)) for _, terms, _ in self.queries]
        t2 = time.perf_counter()
        return {"inputs_s": t1 - t0, "oracle_s": t2 - t1}

    def op(self, rec: Recorder) -> None:
        from pyspark.sql import functions as F

        from tfidf_spark.index import query as index_query
        from tfidf_spark.index.builder import build_index, load_index
        from tfidf_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_signatures_docs,
            simhash_docs,
        )
        from tfidf_spark.sources import catalog
        from tfidf_spark.sources.corpus import with_doc_id

        spark, res = self.ctx.spark, rec.result
        idx_dir = os.path.join(self.ctx.work, "idx")
        # only the last op's index is kept (disk)
        shutil.rmtree(os.path.join(idx_dir, f"b{self.ops - 1}"), ignore_errors=True)
        out = os.path.join(idx_dir, f"b{self.ops}")
        self.ops += 1
        with rec.call("corpus_load"):
            df, fp = catalog.load_corpus(
                spark, self.table, fmt="iceberg", snapshot_id=self.snapshot
            )
            docs = with_doc_id(df)
        with rec.call("build"):
            manifest = build_index(docs, out, n_shards=self.ctx.n_shards, source_snapshot=fp)
        with rec.call("simhash"):
            sh = simhash_docs(docs).agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("doc_id", "simhash"))
            ).collect()[0]
        with rec.call("minhash_lsh"):
            pairs = lsh_candidate_pairs(
                minhash_signatures_docs(docs), max_bucket=MAX_BUCKET
            ).agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("a", "b", "n_bands"))).collect()[0]
        handle = load_index(spark, out)
        with rec.call("warm"):
            handle.warm()
        stats = getattr(index_query, "DECODE_STATS", None) or {}
        dec0, tot0 = stats.get("bytes_decoded", 0), stats.get("bytes_total", 0)
        answers = []
        for _, terms, k in self.queries:
            with rec.call("local_query"):
                answers.append(index_query.bm25_query_terms_local(handle, terms, k))
        dec, tot = stats.get("bytes_decoded", 0) - dec0, stats.get("bytes_total", 0) - tot0
        handle.cool()

        m = manifest["metrics"]
        ids = {
            "postings_sha256": _postings_digest(os.path.join(out, "term_postings")),
            "n_docs": manifest["n_docs"],
            "postings": m["postings_emitted"],
            "blob_bytes": m["bytes_compressed"],
            "avgdl": manifest["avgdl"],
            "simhash": tuple(sh),
            "pairs": tuple(pairs),
        }
        if self.reference is None:
            self.reference = ids
        for key, want in self.reference.items():
            if ids[key] != want:
                res.problems.append(f"{key} {ids[key]!r} differs from first op {want!r}")
        if manifest["n_docs"] != self.n_docs:
            res.problems.append(f"n_docs {manifest['n_docs']} != {self.n_docs}")
        for (qid, _, k), got, ranked in zip(self.queries, answers, self.expect):
            _compare_ranked(f"local q{qid}", got, ranked, k, set(), res)

        lat = [w for _, n, w in res.spans if n == "local_query"]
        res.figures.update({
            "docs_per_s": self.n_docs / rec.total("corpus_load", "build"),
            "query_ms": 1000 * float(np.median(lat)),
            "bytes_per_posting": _dir_bytes(os.path.join(out, "term_postings"))
            / m["postings_emitted"],
            "build.stage_postings_s": m.get("stage_postings_sec", 0.0),
            "build.stage_doc_stats_s": m.get("stage_doc_stats_sec", 0.0),
            "build.stage_encode_s": m.get("stage_encode_sec", 0.0),
            "build.stage_term_stats_s": m.get("stage_term_stats_sec", 0.0),
            "build.blob_bytes_per_posting": m["bytes_compressed"] / m["postings_emitted"],
            "local_query.p90_ms": 1000 * float(np.percentile(lat, 90)),
            "local_query.bytes_decoded_per_query": dec / len(lat),
            "local_query.decode_frac": dec / tot if tot else 0.0,
        })


class Refresh:
    """Incremental maintenance beside cold-handle batch queries. Every op
    starts from the same base index, so all ops measure the same state."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.n_base = ctx.size(REFRESH_BASE_DOCS, 200)
        self.n_delta = ctx.size(DELTA_DOCS, 20)
        self.table = os.path.join(ctx.work, "table")
        self.ops = 0

    def setup(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from tfidf_spark.index.builder import build_index
        from tfidf_spark.oracle import OracleIndex
        from tfidf_spark.sources import catalog, iceberg_meta
        from tfidf_spark.sources.corpus import reference_queries, synth_corpus, with_doc_id

        spark, ctx = self.ctx.spark, self.ctx
        t0 = time.perf_counter()
        total = self.n_base + N_DELTAS * self.n_delta
        # synth_corpus names document i "src/m*/f{i}.ext": the base
        # snapshot holds i < n_base, delta j the next n_delta indexes
        full = synth_corpus(spark, total, seed=ctx.seed, partitions=ctx.cpus).withColumn(
            "_i", F.regexp_extract("path", r"/f(\d+)\.", 1).cast("long")
        ).cache()
        rows = with_doc_id(full).select("doc_id", "content", "_i").collect()
        self.snapshots = []
        bounds = [0, self.n_base] + [
            self.n_base + (j + 1) * self.n_delta for j in range(N_DELTAS)
        ]
        for lo, hi in zip(bounds, bounds[1:]):
            part = full.filter((F.col("_i") >= lo) & (F.col("_i") < hi)).drop("_i")
            catalog.write_table(part, self.table, fmt="iceberg")
            self.snapshots.append(iceberg_meta.snapshot_ids(self.table)[-1])
        full.unpersist()
        self.texts = [{} for _ in range(len(bounds) - 1)]
        for r in rows:
            step = int(np.searchsorted(bounds, int(r["_i"]), side="right")) - 1
            self.texts[step][int(r["doc_id"])] = r["content"]
        t1 = time.perf_counter()

        df, fp = catalog.load_corpus(
            spark, self.table, fmt="iceberg", snapshot_id=self.snapshots[0]
        )
        self.base = os.path.join(ctx.work, "idx", "base")
        manifest = build_index(with_doc_id(df), self.base, n_shards=ctx.n_shards,
                               source_snapshot=fp)
        self.base_postings = manifest["metrics"]["postings_emitted"]
        t2 = time.perf_counter()

        self.pinned_avgdl = OracleIndex(self.texts[0]).avgdl
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.q_collect = reference_queries(BATCH_COLLECT, seed=ctx.seed + 2)
        self.q_join = reference_queries(BATCH_JOIN, seed=ctx.seed + 3)
        self.q_collect_df = _query_df(spark, self.q_collect)
        self.q_join_df = _query_df(spark, self.q_join)
        self.rankings: dict[int, dict] = {}
        t3 = time.perf_counter()
        return {"inputs_s": t1 - t0, "prebuild_s": t2 - t1, "oracle_s": t3 - t2}

    def _rankings(self, j: int, docs: dict[int, str]) -> dict:
        """The oracle's full ranking of every query over the base plus
        delta ``j``, computed once per delta (outside the op). Tombstoned
        documents still count toward N and df, as in the index, and avgdl
        is pinned to the base's, as an ``avgdl_override`` rebuild scores
        them (tests/test_incremental.py)."""
        from tfidf_spark.oracle import OracleIndex

        if j not in self.rankings:
            oracle = OracleIndex(docs)
            oracle.avgdl = self.pinned_avgdl
            self.rankings[j] = {
                (label, qid): oracle.bm25_topk(terms, len(docs))
                for label, queries in (("collect", self.q_collect), ("join", self.q_join))
                for qid, terms, _ in queries
            }
        return self.rankings[j]

    def op(self, rec: Recorder) -> None:
        from tfidf_spark.index.builder import load_index
        from tfidf_spark.index.incremental import compact_index, delete_docs
        from tfidf_spark.index.query import bm25_query_index
        from tfidf_spark.sources import catalog
        from tfidf_spark.sources.corpus import with_doc_id

        spark, res = self.ctx.spark, rec.result
        n, j = self.ops, self.ops % N_DELTAS
        self.ops += 1
        # only the last op's snapshot is kept (disk); the base is shared
        shutil.rmtree(os.path.join(self.ctx.work, "idx", f"r{n - 1}"), ignore_errors=True)
        nxt = os.path.join(self.ctx.work, "idx", f"r{n}")
        delta = self.texts[j + 1]
        docs = {**self.texts[0], **delta}
        victims = {int(v) for v in self.rng.choice(sorted(docs), size=DELETES_PER_OP,
                                                   replace=False)}

        with rec.call("cdc"):
            appended, _, _ = catalog.incremental_changes(
                spark, self.table, self.snapshots[j], self.snapshots[j + 1]
            )
            appended = with_doc_id(appended)
        with rec.call("compact"):
            manifest = compact_index(load_index(spark, self.base), appended, nxt)
        with rec.call("delete"):
            delete_docs(load_index(spark, nxt), sorted(victims))
        handle = load_index(spark, nxt)
        with rec.call("batch_query"):
            got_collect = bm25_query_index(handle, self.q_collect_df).collect()
        with rec.call("batch_join"):
            got_join = bm25_query_index(handle, self.q_join_df, prune_by_collect=False).collect()
        m = manifest["metrics"]

        if manifest["n_docs"] != len(docs):
            res.problems.append(f"n_docs {manifest['n_docs']} != {len(docs)}")
        if m["docs_tokenized"] != len(delta):
            res.problems.append(f"delta docs {m['docs_tokenized']} != {len(delta)}")
        rankings = self._rankings(j, docs)
        for label, queries, rows in (
            ("collect", self.q_collect, got_collect),
            ("join", self.q_join, got_join),
        ):
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(int(r["query_id"]), []).append(r)
            for qid, _, k in queries:
                got = [(int(r["doc_id"]), float(r["score"]))
                       for r in sorted(by_q.get(qid, []), key=lambda r: r["rank"])]
                _compare_ranked(f"{label} q{qid}", got, rankings[label, qid], k, victims, res)

        segments = manifest["segments"]["term_postings"]
        on_disk = sum(_dir_bytes(os.path.normpath(os.path.join(nxt, s))) for s in segments)
        res.figures.update({
            "docs_per_s": m["docs_tokenized"] / rec.total("cdc", "compact"),
            "query_ms": 1000 * rec.total("batch_query", "batch_join")
            / (len(self.q_collect) + len(self.q_join)),
            "bytes_per_posting": on_disk / (self.base_postings + m["postings_emitted"]),
            "refresh.segments": len(segments),
            "refresh.bytes_written_postings": m["bytes_written_postings"],
        })

"""Inverted-index build: corpus -> compressed, doc-sharded posting lists.

Scale design (the part that must survive 10^12 files):

- **One tokenize pass.** Stage 1 materializes exploded postings
  ``(doc_id, term, cnt, dl)`` to parquet in a single scan of the corpus
  (zero-token docs kept as null-term sentinel rows so N and avgdl count
  them, matching the reference's all-docs-in-scope N,
  reference app/repositories/document.py:231-255). Doc stats, corpus
  stats, and the index all derive from that materialization — the raw
  text is never re-read.
- **Doc-sharding IS the skew handling.** A hot term (``the``, ``if``,
  ``return`` in ~every code file) would otherwise funnel its whole
  posting list through one reducer. Every posting carries
  ``shard = pmod(xxhash64(doc_id), n_shards)`` and lists are built per
  (term, shard): hot terms fan out across n_shards tasks — the explicit
  salting the north_rule requires, except the salt is KEPT in the index
  key: queries process (term, shard) runs independently (disjoint doc
  sets) and merge top-k, so no single-reducer merge exists at build OR
  query time. Size n_shards so max_df/n_shards * 16B fits comfortably in
  an executor task.
- **Group assembly is a Tungsten sort, not an aggregation.** Rows are
  hash-repartitioned by (term, shard) and sorted by (term, shard, doc_id)
  inside Tungsten (sign-flip docID order == signed order, so the sorted
  stream is already in codec order); ONE mapInPandas pass slices group
  boundaries and encodes. Two rejected designs, both measured: per-group
  applyInPandas (~2ms Arrow overhead per group; vocab x shards groups
  dominated the build) and sort_array(collect_list(...)) (the JVM object
  aggregation alone cost ~7x the entire Python encode).
- BM25's idf-independent weight (cnt, dl, avgdl folded in) is computed
  JVM-side and stored per posting; its per-block max is the block-max
  skip metadata. Query-time score = idf * stored weight.
- ``term_postings`` files are hash-partitioned by (term, shard) and
  sorted by ``xxhash64(term)`` inside each file, so a file's term
  min/max spans nearly the whole vocabulary: term lookups get NO parquet
  min/max pruning in this layout.

The materialized tables are the scalable analog of the reference's
``word_frequencies`` B-tree'd table (reference app/db/models.py:94-110):
doc_stats == its per-document rows, term_stats == its GROUP BY word view
(reference app/repositories/document.py:190-229).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tfidf_spark import BM25_B, BM25_K1
from tfidf_spark.index.codec import BLOCK_SIZE, _THRESHOLDS, to_unsigned
from tfidf_spark.operators.postings import with_term_counts
from tfidf_spark.operators.scoring import bm25_weight_expr

# On-disk snapshot format. v1: eager postings (no block_off); v2: block
# byte offsets -> lazy per-block decode; v3: manifest lists SEGMENT
# directories for term_postings/doc_stats (O(delta) incremental merges
# carry old segments by reference). Readers accept <= FORMAT_VERSION;
# v1 snapshots fail with a clear rebuild-required error (no block_off).
FORMAT_VERSION = 3

INDEX_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("shard", IntegerType()),
        StructField("df_shard", LongType()),
        StructField("postings", BinaryType()),
        StructField("weights", BinaryType()),
        StructField("block_last", ArrayType(LongType())),
        StructField("block_max", ArrayType(DoubleType())),
        StructField("block_off", ArrayType(LongType())),
        # blob size as a plain column: stats jobs read THIS, never the
        # binary columns (parquet column pruning skips the blobs)
        StructField("n_bytes", LongType()),
    ]
)


def _encode_group_arrays(
    g_terms: np.ndarray,
    g_shards: np.ndarray,
    ids: np.ndarray,
    ws: np.ndarray,
    starts: np.ndarray,
    end: int,
) -> pd.DataFrame:
    """Vectorized multi-group encode core (r8): one delta/varint pass
    over the WHOLE sorted slice instead of one ``encode_postings`` call
    per (term, shard) run. At vocab x n_shards groups per build (~80k at
    bench scale, unbounded at corpus scale) the per-call numpy overhead
    dominated the encode stage — this is ~25x faster on the same input
    and byte-identical (the per-group codec math is unchanged: gaps
    reset at group starts, blocks are 128-row slices within each group,
    block_off is relative to the group's first varint byte).

    ``ids``/``ws`` must already be truncated to ``end`` rows holding
    complete groups that start at ``starts`` and are sorted by signed
    doc_id within each group (codec sign-flip identity); ``g_terms`` /
    ``g_shards`` carry ONE value per group (aligned with ``starts``)."""
    starts = np.asarray(starts, dtype=np.int64)
    bounds = np.append(starts, end)
    u = to_unsigned(ids)
    gaps = np.empty_like(u)
    gaps[1:] = u[1:] - u[:-1]
    gaps[starts] = u[starts]
    nb = np.ones(gaps.size, dtype=np.int64)
    for t in _THRESHOLDS:
        nb += (gaps >= t).astype(np.int64)
    byte_off = np.zeros(gaps.size + 1, dtype=np.int64)
    np.cumsum(nb, out=byte_off[1:])
    enc = np.zeros(int(byte_off[-1]), dtype=np.uint8)
    offsets = byte_off[:-1]
    for j in range(10):
        mask = nb > j
        if not mask.any():
            break
        byte = ((gaps[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > j).astype(np.uint8) << 7
        enc[offsets[mask] + j] = byte | cont
    all_bytes = enc.tobytes()
    sizes = np.diff(bounds)
    nblocks = -(-sizes // BLOCK_SIZE)
    first_blk = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(nblocks, out=first_blk[1:])
    total_blocks = int(first_blk[-1])
    grp = np.repeat(np.arange(len(starts)), nblocks)
    within = np.arange(total_blocks) - first_blk[grp]
    b_start = starts[grp] + within * BLOCK_SIZE
    b_end = np.minimum(b_start + BLOCK_SIZE, bounds[grp + 1])
    blast = ids[b_end - 1]
    bmax = (
        np.maximum.reduceat(ws, b_start)
        if total_blocks
        else np.empty(0, dtype=np.float64)
    )
    boff = byte_off[b_start] - byte_off[starts[grp]]
    out = {k.name: [] for k in INDEX_SCHEMA.fields}
    for i in range(len(starts)):
        lo, hi = int(starts[i]), int(bounds[i + 1])
        b0, b1 = int(first_blk[i]), int(first_blk[i + 1])
        pb = all_bytes[byte_off[lo] : byte_off[hi]]
        wb = ws[lo:hi].tobytes()
        out["term"].append(g_terms[i])
        out["shard"].append(int(g_shards[i]))
        out["df_shard"].append(hi - lo)
        out["postings"].append(pb)
        out["weights"].append(wb)
        out["block_last"].append(blast[b0:b1].tolist())
        out["block_max"].append(bmax[b0:b1].tolist())
        out["block_off"].append(boff[b0:b1].tolist())
        out["n_bytes"].append(len(pb) + len(wb))
    return pd.DataFrame(out)


def _encode_groups(pdf: pd.DataFrame, starts: np.ndarray, end: int) -> pd.DataFrame:
    """Encode the complete (term, shard) runs of a sorted slice.

    ``starts`` are group start offsets; rows [starts[-1], end) form the
    LAST complete group (the caller withholds any run that may continue
    into the next Arrow batch)."""
    starts = np.asarray(starts, dtype=np.int64)
    return _encode_group_arrays(
        pdf["term"].to_numpy()[starts],
        pdf["shard"].to_numpy()[starts],
        pdf["doc_id"].to_numpy(dtype=np.int64)[:end],
        pdf["w"].to_numpy(dtype=np.float64)[:end],
        starts,
        end,
    )


def _encode_sorted_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel over a partition hash-partitioned by
    (term, shard) and Tungsten-sorted by (term, shard, doc_id): slice group
    boundaries per Arrow batch, carrying any run that may continue into the
    next batch. Replaces a collect_list aggregation that was measured ~7x
    more expensive than the whole Python encode."""
    pend: pd.DataFrame | None = None
    for pdf in batches:
        if pend is not None:
            pdf = pd.concat([pend, pdf], ignore_index=True)
            pend = None
        if not len(pdf):
            continue
        terms = pdf["term"].to_numpy()
        shards = pdf["shard"].to_numpy()
        change = np.empty(len(pdf), dtype=bool)
        change[0] = True
        change[1:] = (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
        starts = np.flatnonzero(change)
        if len(starts) == 1:
            pend = pdf  # single (possibly continuing) run: hold it all
            continue
        tail_start = int(starts[-1])
        pend = pdf.iloc[tail_start:].reset_index(drop=True)
        yield _encode_groups(pdf, starts[:-1], tail_start)
    if pend is not None and len(pend):
        yield _encode_groups(pend, np.array([0]), len(pend))


def stage_postings(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "doc_id",
    code_aware: bool = False,
) -> None:
    """Stage 1: single tokenize pass -> postings parquet
    ``(doc_id, term nullable, cnt, dl, part_id)``.

    EVERY doc additionally emits one null-term MARKER row with
    ``cnt = n_unique``: doc stats and per-partition lineage then derive
    from the markers with a filter/projection instead of a 17M-row
    groupBy shuffle, and zero-token docs stay counted in N/avgdl. The
    marker is prepended to the exploded map entries inside ONE explode
    (concat of arrays), so tokenization still runs exactly once.

    The write is PARTITIONED by ``sec`` (0 = postings, 1 = markers):
    downstream doc_stats reads only the marker directory (O(n_docs)
    rows) and encode only the posting directory — parquet partition
    pruning instead of a null-filter scan over the whole table. The
    marker scan was measured scaling at ~0.58 N->4N because it re-read
    all posting row groups just to drop them; directory pruning removes
    that entirely. partitionBy adds only a per-task sort on a 0/1 key,
    no shuffle."""
    counted = with_term_counts(docs, text_col, code_aware)
    marker = F.array(
        F.struct(
            F.lit(None).cast("string").alias("key"),
            F.size("term_counts").alias("value"),
        )
    )
    entries = F.concat(marker, F.map_entries("term_counts"))
    exploded = counted.select(
        F.col(id_col).alias("doc_id"),
        F.explode(entries).alias("e"),
        F.col("dl"),
        F.spark_partition_id().alias("part_id"),  # per-partition lineage key
    ).select(
        "doc_id",
        F.col("e.key").alias("term"),
        F.col("e.value").alias("cnt"),
        "dl",
        "part_id",
    )
    exploded.withColumn(
        "sec", F.when(F.col("term").isNull(), F.lit(1)).otherwise(F.lit(0))
    ).write.partitionBy("sec").mode("overwrite").parquet(f"{out_dir}/postings")


def doc_shard(n_shards: int) -> Column:
    """The shard of a ``doc_id`` row: every segment (build, incremental
    delta, compaction) and the tombstone patcher share this assignment,
    which keeps each shard's runs over one disjoint doc set."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")


def term_stats(runs: DataFrame) -> DataFrame:
    """``(term, df, bytes)`` of a run table (``df_shard``/``n_bytes``
    rows). Both are stored int columns, so the scan never touches the
    posting blobs (parquet column pruning)."""
    return runs.groupBy("term").agg(
        F.sum("df_shard").alias("df"),
        F.sum("n_bytes").alias("bytes"),
    )


def write_runs(rows: DataFrame, out_dir: str, n_shards: int) -> None:
    """Weighted posting rows ``(term, doc_id, w)`` -> compressed
    per-(term, shard) runs at ``out_dir/term_postings``: the build's,
    ``compact_index``'s delta and ``full_compact``'s segments
    (``patch_deletes`` re-encodes single runs in its own kernel).

    Hash-shuffle rows by (term, shard), Tungsten-sort each partition by
    (tkey, term, shard, doc_id) and stream the sorted rows through the
    Arrow encode kernel. (A collect_list aggregation was measured ~7x
    the cost of the entire Python encode.) The leading int64 key
    ``tkey = xxhash64(term)`` lets Tungsten radix-sort instead of
    string-comparing terms (measured ~14% faster encode at 8 cores,
    identical runs); `term` stays in the order so hash collisions still
    sort adjacent-but-separated and the kernel's boundary detection on
    (term, shard) is unaffected. tkey is projected AFTER the repartition
    so those 8 bytes/row never cross the shuffle. The files come out in
    tkey order, not term order (see the module docstring)."""
    spark = rows.sparkSession
    sorted_runs = (
        rows.select("term", doc_shard(n_shards).alias("shard"), "doc_id", "w")
        .repartition("term", "shard")
        .withColumn("tkey", F.xxhash64("term"))
        .sortWithinPartitions("tkey", "term", "shard", "doc_id")
        .drop("tkey")
    )
    # big Arrow batches ONLY for this job: posting rows are ~30B, so
    # 100k rows/batch is a few MB and amortizes the kernel's per-batch
    # overhead; the session default stays 10k because the same knob
    # sizes text-carrying UDF batches (session.py)
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf_key, "10000")
    spark.conf.set(conf_key, "100000")
    try:
        sorted_runs.mapInPandas(
            _encode_sorted_stream, INDEX_SCHEMA
        ).write.mode("overwrite").parquet(f"{out_dir}/term_postings")
    finally:
        spark.conf.set(conf_key, prev)


def stage_encode(
    raw: DataFrame,
    out_dir: str,
    avgdl: float,
    n_shards: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> None:
    """Stage 3: staged postings (``stage_postings`` output) -> compressed
    per-(term, shard) runs at ``out_dir/term_postings`` via
    ``write_runs``. Public so the stage-scaling harness
    (tools/stage_scaling.py) times EXACTLY the build's encode plan in
    isolation."""
    postings = raw.filter(F.col("sec") == 0).select(
        "term",
        "doc_id",
        bm25_weight_expr("cnt", "dl", avgdl if avgdl > 0 else 1.0, k1, b).alias("w"),
    )
    write_runs(postings, out_dir, n_shards)


def build_index(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "doc_id",
    n_shards: int = 8,
    code_aware: bool = False,
    k1: float = BM25_K1,
    b: float = BM25_B,
    source_snapshot: str | None = None,
    resume: bool = False,
    avgdl_override: float | None = None,
) -> dict:
    """Build the full index at ``out_dir``. Returns the manifest dict.

    Layout: postings/, doc_stats/, term_postings/, term_stats/ (parquet)
    + manifest.json + _lineage/ (per-stage commits and per-partition
    metrics — the durable analog of the reference's Valkey counters,
    reference app/services/metrics.py:10-63).

    ``resume=True`` skips stages already committed for the same
    ``source_snapshot`` fingerprint (pass the Iceberg snapshot id / input
    version; it defaults to the build parameters only, so explicit
    versioning is strongly recommended for real resume use).
    """
    from tfidf_spark.index.checkpoint import StageCheckpointer

    spark = docs.sparkSession
    fingerprint = json.dumps(
        {
            "snapshot": source_snapshot,
            "n_shards": n_shards,
            "code_aware": code_aware,
            "k1": k1,
            "b": b,
            # stage-output layout version: a resume against stages written
            # by an older engine (e.g. postings without the sec partition)
            # must invalidate, not read a shape that no longer exists
            "layout": FORMAT_VERSION,
        },
        sort_keys=True,
    )
    ckpt = StageCheckpointer(out_dir, fingerprint, resume=resume)

    ckpt.run(
        "postings",
        lambda: stage_postings(docs, out_dir, text_col, id_col, code_aware),
    )
    raw = spark.read.parquet(f"{out_dir}/postings")

    def _doc_stats():
        # markers only: shuffle-free doc stats + lineage over n_docs rows,
        # read via partition pruning (sec=1 directory — never touches the
        # posting row groups)
        markers = raw.filter(F.col("sec") == 1)
        markers.select(
            "doc_id", "dl", F.col("cnt").cast("long").alias("n_unique")
        ).write.mode("overwrite").parquet(f"{out_dir}/doc_stats")
        # per-posting count per doc == n_unique (one row per distinct term).
        # dl_sum folds the corpus-stats job into this write: N and avgdl
        # then come from the tiny lineage table instead of a separate
        # full doc_stats aggregation job (a fixed per-build driver cost
        # that the N->4N scaling criterion would otherwise carry).
        markers.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cnt").alias("n_postings"),
            F.sum("dl").alias("dl_sum"),
        ).withColumn("stage", F.lit("postings")).write.mode("overwrite").parquet(
            f"{out_dir}/_lineage/partitions"
        )

    ckpt.run("doc_stats", _doc_stats)
    cs = (
        spark.read.parquet(f"{out_dir}/_lineage/partitions")
        # partitions is a multi-stage table (stage, part_id, ...); a future
        # stage appending rows here must not double-count N / dl_sum
        .filter(F.col("stage") == "postings")
        .agg(F.sum("n_docs").alias("n"), F.sum("dl_sum").alias("dl_sum"))
        .collect()[0]
    )
    n_docs = int(cs["n"] or 0)
    avgdl = float(cs["dl_sum"] or 0.0) / n_docs if n_docs else 0.0
    if avgdl_override is not None:
        # incremental maintenance pins the ORIGINAL avgdl so stored
        # weights stay mutually consistent across increments (see
        # incremental.py for the drift/rebuild policy)
        avgdl = avgdl_override

    ckpt.run(
        "encode", lambda: stage_encode(raw, out_dir, avgdl, n_shards, k1=k1, b=b)
    )
    tp = spark.read.parquet(f"{out_dir}/term_postings")

    def _term_stats():
        # bytes ride along so the manifest totals come from the tiny
        # term_stats table
        term_stats(tp).write.mode("overwrite").parquet(f"{out_dir}/term_stats")

    ckpt.run("term_stats", _term_stats)

    stats = (
        spark.read.parquet(f"{out_dir}/term_stats")
        .agg(F.sum("df").alias("n_postings"), F.sum("bytes").alias("bytes"))
        .collect()[0]
    )
    manifest = {
        "format_version": FORMAT_VERSION,
        # provenance: which source snapshot this index was built from
        # (the Iceberg snapshot fingerprint when the corpus came through
        # load_corpus) — None for ad-hoc DataFrames
        "source_snapshot": source_snapshot,
        "n_docs": n_docs,
        "avgdl": avgdl,
        # true cumulative token count: incremental merges use this for
        # exact drift accounting (pinned avgdl * n_docs would understate
        # drift once increments themselves pin avgdl)
        "dl_sum": float(cs["dl_sum"] or 0.0),
        "n_shards": n_shards,
        "k1": k1,
        "b": b,
        "code_aware": code_aware,
        # Iceberg-manifest pattern: the snapshot LISTS its data segments;
        # incremental merges append a delta segment without rewriting the
        # carried ones (see incremental.compact_index). A fresh build is
        # a single-segment snapshot. Segment refs are stored RELATIVE to
        # the manifest's directory (resolved at read time) so a copied or
        # moved index stays self-contained; chained increments reference
        # their base segments as "../base/..." and move with them as a
        # unit, or full_compact into a self-contained one.
        "segments": {
            "term_postings": ["term_postings"],
            "doc_stats": ["doc_stats"],
        },
        "metrics": {
            "docs_tokenized": n_docs,
            "postings_emitted": int(stats["n_postings"] or 0),
            "bytes_compressed": int(stats["bytes"] or 0),
            **ckpt.walls,
        },
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


class IndexHandle:
    """Loaded index: lazily-read DataFrames + collected scalars.

    ``term_postings`` and ``doc_stats`` are the UNION of the snapshot's
    segment directories (manifest ``segments`` — one per incremental
    merge, Lucene/Iceberg style). Segments hold disjoint doc sets (the
    re-ingest guard enforces it), so a term may have multiple runs per
    shard; the MaxScore kernel treats each run as an independent list,
    which stays exact because every doc appears in at most one run per
    term. ``term_stats`` is always a single merged table (tiny, O(vocab))
    so the query-side idf join sees one row per term.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        # abspath: Spark resolves relative paths against the JVM's cwd
        # (not Python's), and chained manifests written from a handle
        # opened via a relative path would record refs that re-resolve
        # against the wrong directory (ADVICE r3).
        self.path = os.path.abspath(path)
        with open(os.path.join(path, "manifest.json")) as f:
            self.manifest = json.load(f)
        version = self.manifest.get("format_version", 2)
        if version > FORMAT_VERSION:
            raise ValueError(
                f"index at {path} has format_version={version}, newer than "
                f"this engine's {FORMAT_VERSION}; upgrade the engine"
            )
        self.n_docs = self.manifest["n_docs"]
        self.avgdl = self.manifest["avgdl"]
        self.k1 = self.manifest["k1"]
        self.b = self.manifest["b"]
        self._dfs: dict[str, DataFrame] = {}
        self._n_tombstones: int | None = None
        self._df_dict: dict[str, int] | None = None

    def segment_paths(self, name: str) -> list[str]:
        segs = self.manifest.get("segments")
        if segs and name in segs:
            # all current manifests store segment refs relative to THIS
            # manifest's directory ("term_postings" for its own segment,
            # "../base/term_postings" for chained bases) so a snapshot
            # chain under a common root moves as a unit; absolute entries
            # are accepted for pre-r4 chained manifests.
            return [
                p if os.path.isabs(p) else os.path.normpath(os.path.join(self.path, p))
                for p in segs[name]
            ]
        # pre-v3 snapshot: single directory under the index root
        return [os.path.join(self.path, name)]

    def _read_term_postings(self) -> DataFrame:
        """Union of posting segments; on a patched snapshot
        (incremental.patch_deletes) the carried segments' superseded runs
        are anti-joined out against the broadcast shadow list keyed by
        (segment ref, term, shard)."""
        refs = self.manifest.get("segments", {}).get(
            "term_postings", ["term_postings"]
        )
        paths = self.segment_paths("term_postings")
        if not self.manifest.get("shadowed_runs"):
            return self.spark.read.parquet(*paths)
        parts = [
            self.spark.read.parquet(p).withColumn("_seg", F.lit(ref))
            for ref, p in zip(refs, paths)
        ]
        df = parts[0]
        for part in parts[1:]:
            df = df.unionByName(part)
        shadow = self.shadowed_runs.select(
            F.col("seg").alias("_seg"), "term", "shard"
        )
        return df.join(
            F.broadcast(shadow), ["_seg", "term", "shard"], "left_anti"
        ).drop("_seg")

    @property
    def shadowed_runs(self) -> DataFrame | None:
        """(seg, term, shard) runs superseded by a patch segment, or None."""
        if not self.manifest.get("shadowed_runs"):
            return None
        df = self._dfs.get("shadowed_runs")
        if df is None:
            df = self.spark.read.parquet(f"{self.path}/shadowed_runs")
            self._dfs["shadowed_runs"] = df
        return df

    def _cached(self, name: str) -> DataFrame:
        # one read per table per handle: repeated spark.read calls re-list
        # files and re-read footers on every query
        df = self._dfs.get(name)
        if df is None:
            if name == "term_postings":
                df = self._read_term_postings()
            elif name == "doc_stats":
                df = self.spark.read.parquet(*self.segment_paths(name))
            else:
                df = self.spark.read.parquet(f"{self.path}/{name}")
            if name == "term_postings" and "block_off" not in df.columns:
                raise ValueError(
                    f"index at {self.path} predates the block_off layout "
                    f"(format_version >= 2): rebuild required "
                    "(build_index over the source corpus)"
                )
            self._dfs[name] = df
        return df

    @property
    def term_postings(self) -> DataFrame:
        return self._cached("term_postings")

    @property
    def term_stats(self) -> DataFrame:
        return self._cached("term_stats")

    @property
    def doc_stats(self) -> DataFrame:
        return self._cached("doc_stats")

    @property
    def tombstones(self) -> DataFrame | None:
        """Soft-deleted doc_ids (see incremental.delete_docs), or None."""
        if not os.path.isdir(f"{self.path}/tombstones"):
            return None
        return self._cached("tombstones")

    @property
    def n_tombstones(self) -> int:
        if self._n_tombstones is None:
            ts = self.tombstones
            self._n_tombstones = 0 if ts is None else ts.count()
        return self._n_tombstones

    @property
    def n_unapplied_tombstones(self) -> int:
        """Tombstones not yet physically applied to the postings —
        the count the query path must over-fetch by. patch_deletes
        records how many it applied; deletes issued after the patch are
        the difference."""
        return max(
            0,
            self.n_tombstones
            - int(self.manifest.get("postings_tombstones_applied", 0)),
        )

    def invalidate_tombstones(self) -> None:
        self._dfs.pop("tombstones", None)
        self._n_tombstones = None

    def warm(self, df_dict_max_terms: int = 1_000_000) -> dict:
        """Pin the serving tables for low-latency querying.

        Two standard serving-tier moves, both scale-true:

        - ``term_postings`` and ``term_stats`` are persisted in executor
          memory (MEMORY_AND_DISK — spills, never fails): repeated term
          scans hit Spark's in-memory columnar cache instead of
          re-reading parquet footers + pages on every query (the runs
          are not in term order, so its per-batch min/max stats prune
          little).
        - the ``term -> df`` dictionary is collected driver-side when the
          vocabulary fits (``<= df_dict_max_terms`` rows) — the
          coordinator-resident term dictionary every search tier keeps in
          RAM (sharded across coordinators at 10^12-file scale; the guard
          refuses rather than OOMs a driver that was not sized for it).
          ``bm25_query_terms_local``'s df-budget precheck then runs with
          no Spark job, removing one of its two scheduler round-trips,
          and vocabulary misses short-circuit to [] with zero jobs.

        Returns ``{"persisted": [...], "df_dict_terms": n | None}``.
        Call again after snapshot mutations (the handle's tables are
        immutable per snapshot, so staleness only enters via a NEW
        handle — which starts cold)."""
        from pyspark import StorageLevel

        persisted = []
        for name in ("term_postings", "term_stats"):
            df = self._cached(name).persist(StorageLevel.MEMORY_AND_DISK)
            self._dfs[name] = df
            df.count()  # materialize now, not on the first query
            persisted.append(name)
        self._df_dict = None
        if df_dict_max_terms > 0:
            rows = (
                self.term_stats.select("term", "df")
                .limit(df_dict_max_terms + 1)
                .collect()
            )
            if len(rows) <= df_dict_max_terms:
                self._df_dict = {r["term"]: int(r["df"]) for r in rows}
        return {
            "persisted": persisted,
            "df_dict_terms": None if self._df_dict is None else len(self._df_dict),
        }

    def cool(self) -> None:
        """Release everything ``warm`` pinned."""
        for name in ("term_postings", "term_stats"):
            df = self._dfs.get(name)
            if df is not None:
                df.unpersist()
        self._df_dict = None


def load_index(spark: SparkSession, path: str) -> IndexHandle:
    return IndexHandle(spark, path)

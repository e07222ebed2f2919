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
from tfidf_spark.index.checkpoint import StageCheckpointer
from tfidf_spark.index.codec import encode_runs
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


def sorted_groups(
    batches: Iterator[pd.DataFrame], key1: str, key2: str
) -> Iterator[tuple[pd.DataFrame, np.ndarray]]:
    """Slice a pandas batch stream whose rows are sorted so each
    (key1, key2) group is contiguous into COMPLETE groups: yields
    ``(pdf, starts)`` per batch, where ``pdf`` holds whole groups only and
    ``starts`` are their first-row offsets. A group that may continue
    into the next Arrow batch is carried until the following batch or
    the end of the stream. The one slicer of both mapInPandas kernels
    (the encode here, the MaxScore batch kernel in query.py); it replaces
    per-group applyInPandas (~2 ms Arrow round-trip per group) and, on
    the encode side, a collect_list aggregation measured ~7x more
    expensive than the whole Python encode."""
    pend: pd.DataFrame | None = None
    for pdf in batches:
        if pend is not None:
            pdf = pd.concat([pend, pdf], ignore_index=True)
            pend = None
        if not len(pdf):
            continue
        a = pdf[key1].to_numpy()
        b = pdf[key2].to_numpy()
        change = np.empty(len(pdf), dtype=bool)
        change[0] = True
        change[1:] = (a[1:] != a[:-1]) | (b[1:] != b[:-1])
        starts = np.flatnonzero(change)
        if len(starts) == 1:
            pend = pdf  # single (possibly continuing) group: hold it all
            continue
        tail = int(starts[-1])
        pend = pdf.iloc[tail:].reset_index(drop=True)
        yield pdf.iloc[:tail], starts[:-1]
    if pend is not None and len(pend):
        yield pend, np.zeros(1, dtype=np.int64)


# the columns a query kernel reads of a run, in ``arrow_runs`` order
RUN_COLUMNS = (
    "term", "df_shard", "postings", "weights", "block_last", "block_max", "block_off",
)


def arrow_runs(table) -> dict[str, list[tuple]]:
    """Encoded runs of a ``RUN_COLUMNS`` Arrow table, grouped by term:
    ``term -> [(df_shard, postings, weights, block_last, block_max,
    block_off)]``, the block columns as numpy arrays. Every column goes
    through numpy in one call, and each list column is sliced at its
    Arrow offsets; nothing is converted row by row (at 28k runs
    ``to_pylist`` cost ~15x ``to_numpy``, ``np.split`` ~4x plain slices).
    The one converter of both run sources of the driver-local query
    (``IndexHandle.warm``'s run cache and the cold pruned scan); runs
    stay encoded — decoding is per query."""

    def values(name: str) -> list:
        return table.column(name).to_numpy().tolist()

    def split(name: str) -> list[np.ndarray]:
        col = table.column(name).combine_chunks()
        flat = col.flatten().to_numpy()
        ends = np.cumsum(col.value_lengths().to_numpy()).tolist()
        return [flat[lo:hi] for lo, hi in zip([0] + ends[:-1], ends)]

    runs = zip(
        values("df_shard"),
        values("postings"),
        values("weights"),
        split("block_last"),
        split("block_max"),
        split("block_off"),
    )
    out: dict[str, list[tuple]] = {}
    for term, run in zip(values("term"), runs):
        out.setdefault(term, []).append(run)
    return out


def _encode_sorted_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel over a partition hash-partitioned by
    (term, shard) and Tungsten-sorted by (term, shard, doc_id): every
    complete (term, shard) run becomes one ``INDEX_SCHEMA`` row, encoded
    by ``codec.encode_runs`` in one pass per batch."""
    for pdf, starts in sorted_groups(batches, "term", "shard"):
        pb, wb, blast, bmax, boff, n = zip(
            *encode_runs(pdf["doc_id"].to_numpy(), pdf["w"].to_numpy(), starts)
        )
        yield pd.DataFrame(
            {
                "term": pdf["term"].to_numpy()[starts],
                "shard": pdf["shard"].to_numpy()[starts],
                "df_shard": n,
                "postings": pb,
                "weights": wb,
                "block_last": blast,
                "block_max": bmax,
                "block_off": boff,
                "n_bytes": [len(p) + len(w) for p, w in zip(pb, wb)],
            }
        )


# The stage tables are read back with these schemas, not inferred ones:
# a partitioned write of zero rows leaves no parquet file to infer from
# (an empty corpus or delta must still stage an empty table), and each
# inference costs a Spark job. ``stage_postings``' output:
STAGED_SCHEMA = "doc_id long, term string, cnt int, dl int, part_id int, sec int"
# the tables ``stage_documents`` writes from its marker rows
DOC_STATS_SCHEMA = "doc_id long, dl int, n_unique long"
LINEAGE_SCHEMA = "part_id int, n_docs long, n_postings long, dl_sum long, stage string"
# the small per-snapshot tables an ``IndexHandle`` reads
HANDLE_SCHEMAS = {
    "doc_stats": DOC_STATS_SCHEMA,
    "term_stats": "term string, df long, bytes long",
    "tombstones": "doc_id long",
    # (segment ref, term, shard) runs superseded by a patch segment
    "shadowed_runs": "seg string, term string, shard int",
}


def stage_postings(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "doc_id",
    code_aware: bool = False,
) -> None:
    """Stage 1: single tokenize pass -> postings parquet
    ``(doc_id, term nullable, cnt, dl, part_id)`` (``STAGED_SCHEMA``).

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
        F.col(id_col).cast("long").alias("doc_id"),
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


def stage_documents(
    ckpt: StageCheckpointer,
    docs: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "doc_id",
    code_aware: bool = False,
) -> tuple[DataFrame, int, float]:
    """Stages 1-2 of every documents -> segment write (``build_index``
    and ``compact_index``'s delta): ``stage_postings``, then doc_stats
    and per-partition lineage from the marker rows. Returns the staged
    postings, N and dl_sum (from the lineage); the caller picks avgdl
    and runs ``stage_encode``."""
    spark = docs.sparkSession
    ckpt.run(
        "postings",
        lambda: stage_postings(docs, out_dir, text_col, id_col, code_aware),
    )
    raw = spark.read.schema(STAGED_SCHEMA).parquet(f"{out_dir}/postings")

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
        # full doc_stats aggregation job.
        markers.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cnt").alias("n_postings"),
            F.sum("dl").alias("dl_sum"),
        ).withColumn("stage", F.lit("postings")).write.mode("overwrite").parquet(
            f"{out_dir}/_lineage/partitions"
        )

    ckpt.run("doc_stats", _doc_stats)
    # one row per input partition, summed here: an aggregate collect
    # would cost a second (shuffle) job
    parts = (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(f"{out_dir}/_lineage/partitions")
        # partitions is a multi-stage table (stage, part_id, ...); a future
        # stage appending rows here must not double-count N / dl_sum
        .filter(F.col("stage") == "postings")
        .select("n_docs", "dl_sum")
        .collect()
    )
    return (
        raw,
        sum(r["n_docs"] for r in parts),
        float(sum(r["dl_sum"] for r in parts)),
    )


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
    ``compact_index``'s delta, ``full_compact``'s and ``patch_deletes``'
    patch segments.

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
    ``write_runs``, BM25 weights folded under ``avgdl``."""
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
    raw, n_docs, dl_sum = stage_documents(
        ckpt, docs, out_dir, text_col, id_col, code_aware
    )
    avgdl = dl_sum / n_docs if n_docs else 0.0
    ckpt.run(
        "encode", lambda: stage_encode(raw, out_dir, avgdl, n_shards, k1=k1, b=b)
    )
    tp = spark.read.schema(INDEX_SCHEMA).parquet(f"{out_dir}/term_postings")

    def _term_stats():
        # bytes ride along so the manifest totals come from the tiny
        # term_stats table
        term_stats(tp).write.mode("overwrite").parquet(f"{out_dir}/term_stats")

    ckpt.run("term_stats", _term_stats)

    stats = (
        spark.read.schema(HANDLE_SCHEMAS["term_stats"])
        .parquet(f"{out_dir}/term_stats")
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
        "dl_sum": dl_sum,
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
        self._deleted_ids: set[int] | None = None
        self._df_dict: dict[str, int] | None = None
        self._run_cache: dict[str, list[tuple]] | None = None

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

    def _check_layout(self, paths: list[str]) -> None:
        """Refuse a snapshot whose posting segments predate the block_off
        layout. The segments are read with ``INDEX_SCHEMA``, under which a
        missing column reads as nulls, so the check reads one parquet
        footer per segment (driver-side, no Spark job)."""
        import pyarrow.parquet as pq

        for p in paths:
            if not os.path.isdir(p):
                continue  # the read reports the missing path
            files = sorted(
                f for f in os.listdir(p)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if files and "block_off" not in pq.read_schema(os.path.join(p, files[0])).names:
                raise ValueError(
                    f"index at {self.path} predates the block_off layout "
                    f"(format_version >= 2): rebuild required "
                    "(build_index over the source corpus)"
                )

    def _read_term_postings(self) -> DataFrame:
        """Union of posting segments; on a patched snapshot
        (incremental.patch_deletes) the carried segments' superseded runs
        are anti-joined out against the broadcast shadow list keyed by
        (segment ref, term, shard)."""
        refs = self.manifest.get("segments", {}).get(
            "term_postings", ["term_postings"]
        )
        paths = self.segment_paths("term_postings")
        self._check_layout(paths)
        read = self.spark.read.schema(INDEX_SCHEMA)
        if not self.manifest.get("shadowed_runs"):
            return read.parquet(*paths)
        parts = [
            read.parquet(p).withColumn("_seg", F.lit(ref))
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
        return self._cached("shadowed_runs")

    def _cached(self, name: str) -> DataFrame:
        # one read per table per handle: repeated spark.read calls re-list
        # files and re-read footers on every query
        df = self._dfs.get(name)
        if df is None:
            if name == "term_postings":
                df = self._read_term_postings()
            else:
                # explicit schema: an inferred one costs a Spark job
                df = self.spark.read.schema(HANDLE_SCHEMAS[name]).parquet(
                    *self.segment_paths(name)
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

    def _load_tombstones(self) -> None:
        """One collect of the tombstone table fills both ``n_tombstones``
        (its row count, duplicates included, as ``delete_docs`` keeps the
        running total) and ``deleted_ids`` (the distinct set)."""
        ts = self.tombstones
        ids = [] if ts is None else [int(r["doc_id"]) for r in ts.collect()]
        self._n_tombstones = len(ids)
        self._deleted_ids = set(ids)

    @property
    def n_tombstones(self) -> int:
        if self._n_tombstones is None:
            self._load_tombstones()
        return self._n_tombstones

    @property
    def deleted_ids(self) -> set[int]:
        """Soft-deleted doc_ids as a driver-side set: collected on first
        use, then held until ``invalidate_tombstones``, so the
        coordinator query path filters tombstones with no Spark job."""
        if self._deleted_ids is None:
            self._load_tombstones()
        return self._deleted_ids

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
        self._deleted_ids = None

    def warm(
        self, df_dict_max_terms: int = 1_000_000, run_cache_bytes: int = 256 << 20
    ) -> dict:
        """Pin the serving tables for low-latency querying.

        Three coordinator/executor serving-tier moves, each bounded:

        - ``term_postings`` and ``term_stats`` are persisted in executor
          memory (MEMORY_AND_DISK — spills, never fails), so the
          distributed and cold query paths scan Spark's in-memory
          columnar cache instead of re-reading parquet footers and pages
          (the runs are not in term order, so min/max stats prune little).
        - the ``term -> df`` dictionary is collected driver-side when the
          vocabulary fits (``<= df_dict_max_terms`` rows) — the
          coordinator-resident term dictionary every search tier keeps in
          RAM (sharded across coordinators at 10^12-file scale; the guard
          refuses rather than OOMs a driver that was not sized for it).
          ``bm25_query_terms_local``'s df-budget precheck then runs with
          no Spark job, and vocabulary misses short-circuit to [].
        - the snapshot's posting runs are loaded driver-side, still
          encoded (``arrow_runs``), when the dictionary was loaded and
          Σ ``term_stats.bytes`` (postings plus weights, read in the
          dictionary's collect) is at most ``run_cache_bytes``. The one
          ``toArrow`` scan that loads them also fills the executor
          persist. ``bm25_query_terms_local`` then runs no Spark job for
          terms under its df budget. All or nothing: an index over the
          budget keeps no run cache and queries take the pruned scan.

        Returns ``{"persisted": [...], "df_dict_terms": n | None,
        "run_cache_bytes": n | None}``. Call again after snapshot
        mutations (the handle's tables are immutable per snapshot, so
        staleness only enters via a NEW handle — which starts cold); soft
        deletes need no re-warm, ``deleted_ids`` is refreshed by
        ``invalidate_tombstones``."""
        from pyspark import StorageLevel

        persisted = []
        for name in ("term_postings", "term_stats"):
            self._dfs[name] = self._cached(name).persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(name)
        self.term_stats.count()  # materialize now, not on the first query
        self._df_dict = None
        self._run_cache = None
        cache_bytes = None
        if df_dict_max_terms > 0:
            rows = (
                self.term_stats.select("term", "df", "bytes")
                .limit(df_dict_max_terms + 1)
                .collect()
            )
            if len(rows) <= df_dict_max_terms:
                self._df_dict = {r["term"]: int(r["df"]) for r in rows}
                cache_bytes = sum(int(r["bytes"]) for r in rows)
        if cache_bytes is not None and cache_bytes <= run_cache_bytes:
            self._run_cache = arrow_runs(
                self.term_postings.select(*RUN_COLUMNS).toArrow()
            )
        else:
            cache_bytes = None
            self.term_postings.count()
        return {
            "persisted": persisted,
            "df_dict_terms": None if self._df_dict is None else len(self._df_dict),
            "run_cache_bytes": cache_bytes,
        }

    def cool(self) -> None:
        """Release everything ``warm`` pinned."""
        for name in ("term_postings", "term_stats"):
            df = self._dfs.get(name)
            if df is not None:
                df.unpersist()
        self._df_dict = None
        self._run_cache = None


def load_index(spark: SparkSession, path: str) -> IndexHandle:
    return IndexHandle(spark, path)

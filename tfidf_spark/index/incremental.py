"""Incremental index maintenance, Lucene/Iceberg segment style: merging
new documents appends a DELTA SEGMENT and a new manifest — old segments
are carried over BY REFERENCE, never decoded, never rewritten.

This is the scalable analog of the reference's per-upload index insert
(reference app/repositories/document.py:148-173: each new document adds
its posting rows) and the cascade-delete maintenance note
(SURVEY.md §2.6). I/O and CPU are both proportional to the DELTA:

- ``compact_index(delta)`` tokenizes + encodes ONLY the delta's postings
  into ``out_dir/term_postings`` and lists the base snapshot's segment
  directories in the new manifest (``segments``) — at 100 TB the merge
  writes megabytes while the index stays at terabytes. The only
  O(index)-adjacent work is re-aggregating ``term_stats`` (one row per
  term — O(vocabulary), not O(postings); parquet column pruning means
  the posting blobs are never read).
- Queries see multiple runs per (term, shard) — one per segment — and
  the MaxScore kernel scores each run as an independent list. Exactness
  is preserved because segments hold DISJOINT doc sets (the re-ingest
  guard enforces it): every doc contributes to a term's score from
  exactly one run, and extra per-run upper bounds only loosen pruning
  (never unsound).
- ``full_compact`` / ``compact_deletes`` is the MAJOR compaction: decode
  the union of segments, drop tombstoned docs, re-encode into a fresh
  single-segment snapshot. Run it when segment count or tombstone
  fraction justifies the rewrite (manifest carries both counters).

BM25 weight consistency: stored weights fold in avgdl at encode time.
Increments PIN the base index's avgdl (so all runs score consistently)
and track the drift between pinned and true avgdl in the manifest;
when |drift| exceeds ``rebuild_threshold`` (default 10%) the caller
should schedule a full rebuild — compact() raises unless forced.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfidf_spark.index.builder import (
    FORMAT_VERSION,
    INDEX_SCHEMA,
    IndexHandle,
    doc_shard,
    term_stats,
    write_runs,
)
from tfidf_spark.operators.postings import with_term_counts
from tfidf_spark.operators.scoring import bm25_weight_expr


def _carried_refs(index: IndexHandle, name: str, out_abs: str) -> list[str]:
    """The base's ``name`` segments as refs relative to the new snapshot
    directory ``out_abs`` (e.g. "../base/term_postings"): a chain of
    snapshots under a common root then moves as a unit and every link
    keeps resolving. abspath first, because segment_paths() output is
    cwd-relative when the base was opened via a relative path — writing
    that verbatim would re-resolve against the NEW snapshot's directory
    (ADVICE r3)."""
    return [
        os.path.relpath(os.path.abspath(p), out_abs)
        for p in index.segment_paths(name)
    ]


def _carried_shadow(index: IndexHandle, out_abs: str) -> DataFrame | None:
    """The base's ``shadowed_runs`` (seg, term, shard) with its seg refs
    remapped from base-relative to ``_carried_refs`` strings, or None.
    A patched base's shadow list must travel with its carried segments,
    or the runs a patch superseded would resurrect."""
    base_shadow = index.shadowed_runs
    if base_shadow is None:
        return None
    base_abs = os.path.abspath(index.path)
    remap = index.spark.createDataFrame(
        list(
            zip(
                _carried_refs(index, "term_postings", base_abs),
                _carried_refs(index, "term_postings", out_abs),
            )
        ),
        "old_ref string, new_ref string",
    )
    return (
        base_shadow.withColumnRenamed("seg", "old_ref")
        .join(F.broadcast(remap), "old_ref")
        .select(F.col("new_ref").alias("seg"), "term", "shard")
    )


def decode_runs(term_postings: DataFrame) -> DataFrame:
    """Inverse of the encode kernel: compressed runs -> posting rows
    ``(term, shard, doc_id, w)`` (Arrow kernel, vectorized decode)."""
    import numpy as np
    import pandas as pd

    from tfidf_spark.index.codec import decode_postings

    def _decode(batches):
        for pdf in batches:
            ids_all, ws_all, terms_all, shards_all = [], [], [], []
            for term, shard, pb, wb in zip(
                pdf["term"], pdf["shard"], pdf["postings"], pdf["weights"]
            ):
                ids, ws = decode_postings(bytes(pb), bytes(wb))
                ids_all.append(ids)
                ws_all.append(ws)
                terms_all.append(np.repeat(term, ids.size))
                shards_all.append(np.full(ids.size, shard, dtype=np.int32))
            if not ids_all:
                continue
            yield pd.DataFrame(
                {
                    "term": np.concatenate(terms_all),
                    "shard": np.concatenate(shards_all),
                    "doc_id": np.concatenate(ids_all),
                    "w": np.concatenate(ws_all),
                }
            )

    return term_postings.mapInPandas(
        _decode, "term string, shard int, doc_id long, w double"
    )


def delete_docs(index: IndexHandle, doc_ids: list[int]) -> int:
    """Tombstone deletes (the reference's cascade delete,
    app/db/models.py:89-91, done lakehouse-style): append doc_ids to
    ``tombstones/`` under the index. O(|delete|) — no run is touched;
    queries anti-filter tombstones (bm25_query_index over-fetches by the
    tombstone count so top-k never under-fills); ``compact_deletes``
    applies them physically. Returns the new tombstone total."""
    spark = index.spark
    spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long").write.mode(
        "append"
    ).parquet(f"{index.path}/tombstones")
    index.invalidate_tombstones()
    return index.n_tombstones


def full_compact(index: IndexHandle, out_dir: str) -> dict:
    """MAJOR compaction: decode the union of all segments, drop
    tombstoned docs (if any), re-encode into a fresh SINGLE-SEGMENT
    snapshot at ``out_dir``. This is the only path that rewrites the
    whole index — run it when ``manifest['increments']`` (segment count)
    or the tombstone fraction justifies O(index) I/O; day-to-day merges
    go through the O(delta) ``compact_index``. avgdl stays pinned; N and
    per-term df are corrected."""
    spark = index.spark
    ts = index.tombstones
    rows = decode_runs(index.term_postings)
    kept_stats = index.doc_stats
    if ts is not None:
        rows = rows.join(ts, "doc_id", "left_anti")
        kept_stats = kept_stats.join(ts, "doc_id", "left_anti")
    write_runs(rows, out_dir, index.manifest["n_shards"])
    kept_stats.write.mode("overwrite").parquet(f"{out_dir}/doc_stats")
    kept = spark.read.parquet(f"{out_dir}/doc_stats").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl_sum")
    ).collect()[0]
    n_docs = int(kept["n"])

    tp = spark.read.parquet(f"{out_dir}/term_postings")
    term_stats(tp).write.mode("overwrite").parquet(f"{out_dir}/term_stats")

    dl_sum = float(kept["dl_sum"] or 0.0)
    snap_stats = tp.agg(
        F.sum("n_bytes").alias("b"), F.sum("df_shard").alias("p")
    ).collect()[0]
    manifest = dict(index.manifest)
    # The output is a fresh single-segment snapshot: counters that
    # describe the INCREMENT CHAIN must reset or the signals they feed
    # (increment-count compaction scheduling, avgdl-drift rebuild guard)
    # stay inflated after the compaction that was supposed to clear them.
    manifest.pop("avgdl_drift", None)
    manifest.pop("true_avgdl", None)
    # self-contained output: no carried segments, so no shadow list and
    # no patch bookkeeping survive a major compaction
    manifest.pop("shadowed_runs", None)
    manifest.pop("postings_tombstones_applied", None)
    manifest.update(
        {
            "format_version": FORMAT_VERSION,
            "n_docs": n_docs,
            # deletes change the true token total: recompute so later
            # increments' drift accounting stays exact
            "dl_sum": dl_sum,
            "increments": 0,
            "true_avgdl": dl_sum / max(n_docs, 1),
            "avgdl_drift": abs(dl_sum / max(n_docs, 1) - index.avgdl)
            / max(index.avgdl, 1e-12),
            "tombstones_compacted": index.n_tombstones,
            "segments": {
                # self-contained snapshot: relative names, relocatable
                "term_postings": ["term_postings"],
                "doc_stats": ["doc_stats"],
            },
            # metrics describe THIS snapshot, not the pre-compaction chain
            "metrics": {
                "docs_tokenized": 0,
                "postings_emitted": int(snap_stats["p"] or 0),
                "bytes_written_postings": int(snap_stats["b"] or 0),
                "carried_segments": 0,
            },
        }
    )
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def compact_deletes(index: IndexHandle, out_dir: str) -> dict:
    """Physically rewrite the index without tombstoned docs — a
    ``full_compact`` that requires tombstones to exist (guarding against
    accidentally paying O(index) for a no-op). For delete batches that
    touch a small fraction of runs, ``patch_deletes`` does the same
    visible-result transformation at O(affected runs) write cost."""
    if index.tombstones is None:
        raise ValueError("no tombstones to compact")
    return full_compact(index, out_dir)


# patch_deletes collects the tombstone list to the driver (it is shipped
# into the patch kernel as a sorted numpy array); past this size the
# broadcast is no longer "metadata-sized" and full_compact is the right
# tool anyway (a delete batch this large touches most runs).
_PATCH_MAX_TOMBSTONES = 2_000_000


def patch_deletes(index: IndexHandle, out_dir: str) -> dict:
    """TARGETED tombstone compaction: rewrite ONLY the (term, shard) runs
    that actually contain tombstoned docs; every other run is carried by
    reference (VERDICT r3 #4).

    Mechanics (Lucene-style patch segment + shadow list):
      1. tombstoned doc_ids can only live in runs of their own shard
         (``builder.doc_shard``), so only those shards' runs are even
         scanned;
      2. per candidate run, the block-max skip index localizes each
         deleted id to ONE block (searchsorted over block_last) — a run
         is rejected after decoding just the candidate blocks, so decode
         cost is O(runs_in_affected_shards * blocks_probed), not
         O(postings);
      3. runs with a hit are fully decoded, filtered, re-encoded into
         THIS snapshot's own ``term_postings`` (the patch segment); their
         (segment, term, shard) keys go into ``shadowed_runs`` and the
         reader anti-joins them out of the carried base segments;
      4. term_stats df/bytes are corrected from the kernel's exact
         per-run drop counts, and n_docs/dl_sum from doc_stats — so
         query results are rank-identical to a ``full_compact`` of the
         same snapshot (test_deletes.py proves it).

    Bytes WRITTEN are the patch segment alone — proportional to affected
    runs, recorded in manifest metrics. doc_stats segments are carried by
    reference with the tombstone file retained, so stats consumers keep
    filtering; ``postings_tombstones_applied`` tells the query path its
    top-k over-fetch no longer needs to cover the applied deletes.
    """
    import numpy as np
    import pandas as pd

    from tfidf_spark.index.codec import (
        decode_block,
        decode_postings,
        encode_postings,
        to_unsigned,
    )

    spark = index.spark
    ts = index.tombstones
    if ts is None:
        raise ValueError("no tombstones to patch")
    if index.n_tombstones > _PATCH_MAX_TOMBSTONES:
        raise ValueError(
            f"{index.n_tombstones} tombstones exceed the patch limit "
            f"({_PATCH_MAX_TOMBSTONES}); use full_compact/compact_deletes"
        )
    n_shards = index.manifest["n_shards"]
    out_abs = os.path.abspath(out_dir)
    os.makedirs(out_abs, exist_ok=True)

    # np.unique, not sorted(): delete_docs appends without dedup, so a
    # retried delete produces duplicate tombstone rows — and the
    # assume_unique=True np.isin calls below have UNDEFINED results on a
    # non-unique test array (ADVICE r4 #2).
    del_ids = np.unique(
        np.fromiter((r["doc_id"] for r in ts.collect()), dtype=np.int64)
    )
    del_u = np.sort(to_unsigned(del_ids))
    affected_shards = [
        r["shard"]
        for r in ts.select(doc_shard(n_shards).alias("shard")).distinct().collect()
    ]

    # n_docs/dl_sum are computed ABSOLUTELY (live docs = doc_stats
    # anti-join tombstones, as full_compact does), never by decrementing
    # the base manifest: doc_stats is carried by reference and still holds
    # rows for previously-applied deletes, so on an already-patched base a
    # decrement would double-subtract them (ADVICE r4 #3 — reproduced:
    # patch 3 then 2 more gave n_docs=92 instead of 95). Parquet column
    # pruning keeps this a 2-column scan; a tombstone for an unknown id
    # deletes nothing by construction.
    kept = index.doc_stats.join(ts, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl")
    ).collect()[0]
    n_docs_live = int(kept["n"])
    dl_sum_live = float(kept["dl"] or 0.0)

    # carried segment refs, relative to the new snapshot; the reader
    # keys shadow rows by these ref strings
    seg_refs = _carried_refs(index, "term_postings", out_abs)

    def _patch(batches):
        for pdf in batches:
            rows = {
                "term": [], "shard": [], "df_shard": [], "postings": [],
                "weights": [], "block_last": [], "block_max": [],
                "block_off": [], "n_bytes": [], "_seg": [], "dropped": [],
                "old_bytes": [],
            }
            for term, shard, pb0, wb0, r_bl, r_bo, r_nb, seg in zip(
                pdf["term"], pdf["shard"], pdf["postings"], pdf["weights"],
                pdf["block_last"], pdf["block_off"], pdf["n_bytes"],
                pdf["_seg"],
            ):
                bl = np.asarray(r_bl, dtype=np.int64)
                bl_u = to_unsigned(bl)
                # each deleted id maps to exactly one candidate block
                pos = np.searchsorted(bl_u, del_u, side="left")
                cand = np.unique(pos[pos < bl_u.size])
                if not cand.size:
                    continue
                pb, wb = bytes(pb0), bytes(wb0)
                boff = np.asarray(r_bo, dtype=np.int64)
                hit = False
                for bi in cand:
                    bids, _ = decode_block(pb, wb, bl, boff, int(bi))
                    if np.isin(bids, del_ids, assume_unique=True).any():
                        hit = True
                        break
                if not hit:
                    continue
                ids, ws = decode_postings(pb, wb)
                keep = ~np.isin(ids, del_ids, assume_unique=True)
                n_drop = int(ids.size - keep.sum())
                npb, nwb, nbl, nbm, nbo, n = encode_postings(
                    ids[keep], ws[keep], presorted=True
                )
                rows["term"].append(term)
                rows["shard"].append(int(shard))
                rows["df_shard"].append(n)
                rows["postings"].append(npb)
                rows["weights"].append(nwb)
                rows["block_last"].append(nbl)
                rows["block_max"].append(nbm)
                rows["block_off"].append(nbo)
                rows["n_bytes"].append(len(npb) + len(nwb))
                rows["_seg"].append(seg)
                rows["dropped"].append(n_drop)
                rows["old_bytes"].append(int(r_nb))
            if rows["term"]:
                yield pd.DataFrame(rows)

    # read carried segments ref-tagged, with the base's OWN shadow list
    # (if it is already a patched snapshot) applied so dead runs are
    # neither re-patched nor resurrected
    parts = [
        spark.read.parquet(p).withColumn("_seg", F.lit(ref))
        for ref, p in zip(seg_refs, index.segment_paths("term_postings"))
    ]
    tagged = parts[0]
    for df in parts[1:]:
        tagged = tagged.unionByName(df)
    shadow_remapped = _carried_shadow(index, out_abs)
    if shadow_remapped is not None:
        tagged = tagged.join(
            F.broadcast(shadow_remapped.withColumnRenamed("seg", "_seg")),
            ["_seg", "term", "shard"],
            "left_anti",
        )

    schema = (
        "term string, shard int, df_shard long, postings binary, "
        "weights binary, block_last array<long>, block_max array<double>, "
        "block_off array<long>, n_bytes long, _seg string, dropped long, "
        "old_bytes long"
    )
    patched = (
        tagged.filter(F.col("shard").isin(affected_shards))
        .mapInPandas(_patch, schema)
        .cache()
    )
    stats = patched.agg(
        F.count(F.lit(1)).alias("runs"),
        F.sum(F.when(F.col("df_shard") == 0, 1).otherwise(0)).alias("emptied"),
        F.sum(F.when(F.col("df_shard") > 0, F.col("n_bytes")).otherwise(0)).alias("b"),
        F.sum("dropped").alias("drops"),
    ).collect()[0]
    n_runs = int(stats["runs"] or 0)

    # a delete batch of zero-token docs patches no run at all: then the
    # snapshot has no patch segment (parquet can't round-trip an empty
    # directory) and, absent inherited shadows, no shadow list either
    own_ref = ["term_postings"] if n_runs else []
    if n_runs:
        patch_cols = [f.name for f in INDEX_SCHEMA.fields]
        patched.filter(F.col("df_shard") > 0).select(*patch_cols).write.mode(
            "overwrite"
        ).parquet(f"{out_abs}/term_postings")

    has_shadow = bool(n_runs) or shadow_remapped is not None
    if has_shadow:
        new_shadow = patched.select(F.col("_seg").alias("seg"), "term", "shard")
        all_shadow = (
            new_shadow.unionByName(shadow_remapped)
            if shadow_remapped is not None
            else new_shadow
        )
        all_shadow.write.mode("overwrite").parquet(f"{out_abs}/shadowed_runs")

    # exact df/bytes correction per term — O(affected runs) rows
    deltas = patched.groupBy("term").agg(
        F.sum("dropped").alias("ddf"),
        F.sum("old_bytes").alias("ob"),
        F.sum(F.when(F.col("df_shard") > 0, F.col("n_bytes")).otherwise(0)).alias("nb"),
    )
    (
        index.term_stats.join(F.broadcast(deltas), "term", "left")
        .select(
            "term",
            (F.col("df") - F.coalesce("ddf", F.lit(0))).alias("df"),
            (
                F.col("bytes")
                - F.coalesce("ob", F.lit(0))
                + F.coalesce("nb", F.lit(0))
            ).alias("bytes"),
        )
        .filter(F.col("df") > 0)
        .write.mode("overwrite")
        .parquet(f"{out_abs}/term_stats")
    )

    # the snapshot is being rewritten anyway — carry the tombstones
    # DEDUPED so the new handle's n_tombstones equals the unique count
    # actually applied to the postings below
    ts.dropDuplicates(["doc_id"]).write.mode("overwrite").parquet(
        f"{out_abs}/tombstones"
    )
    patched.unpersist()

    manifest = dict(index.manifest)
    manifest.update(
        {
            "format_version": FORMAT_VERSION,
            "n_docs": n_docs_live,
            "dl_sum": dl_sum_live,
            "segments": {
                "term_postings": seg_refs + own_ref,
                "doc_stats": _carried_refs(index, "doc_stats", out_abs),
            },
            "shadowed_runs": has_shadow,
            # the query path's top-k over-fetch only needs to cover
            # tombstones NOT yet physically applied to the postings;
            # unique count, matching the deduped file written above
            "postings_tombstones_applied": int(del_ids.size),
            "metrics": {
                "docs_tokenized": 0,
                "postings_dropped": int(stats["drops"] or 0),
                "runs_patched": int(stats["runs"] or 0),
                "runs_emptied": int(stats["emptied"] or 0),
                # O(affected runs) evidence: bytes written this compaction
                "bytes_written_postings": int(stats["b"] or 0),
                "carried_segments": len(seg_refs),
            },
        }
    )
    with open(os.path.join(out_abs, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def compact_index(
    index: IndexHandle,
    new_docs: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "doc_id",
    code_aware: bool | None = None,
    rebuild_threshold: float = 0.10,
    force: bool = False,
) -> dict:
    """Merge ``new_docs`` into ``index``, writing a NEW snapshot manifest
    at ``out_dir`` (immutable snapshots — the old index stays queryable
    during the merge, Iceberg-style).

    O(delta) by construction — ONE tokenize pass over the delta only:
      1. tokenize delta -> delta postings with weights under the PINNED
         base avgdl
      2. encode the delta postings into ``out_dir/term_postings`` — a new
         SEGMENT (same sort + stream kernel as the full build)
      3. carry every base segment over BY REFERENCE: the new manifest's
         ``segments`` lists the base's directories plus the delta's; no
         base byte is read or written
      4. re-aggregate term_stats (old stats ∪ delta stats — O(vocab),
         posting blobs untouched) and write the manifest

    ``code_aware`` defaults to the BASE index's tokenizer mode; passing a
    different mode explicitly raises — mixing tokenizers in one index
    silently corrupts postings. Existing tombstones are copied into the
    new snapshot so deleted docs stay filtered after the merge.
    """
    spark = new_docs.sparkSession
    base_mode = bool(index.manifest.get("code_aware", False))
    if code_aware is None:
        code_aware = base_mode
    elif bool(code_aware) != base_mode:
        raise ValueError(
            f"code_aware={code_aware} conflicts with the base index's "
            f"tokenizer mode ({base_mode}); an index must use ONE tokenizer"
        )
    n_shards = index.manifest["n_shards"]
    k1, b = index.k1, index.b
    pinned_avgdl = index.avgdl if index.avgdl > 0 else 1.0

    counted = with_term_counts(new_docs, text_col, code_aware)
    delta = counted.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer("term_counts").alias("term", "cnt"),
        F.col("dl"),
    )
    delta.cache()
    delta_stats = delta.groupBy("doc_id").agg(
        F.max("dl").alias("dl"), F.count("term").alias("n_unique")
    )
    counts = delta_stats.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl")
    ).collect()[0]
    n_new = int(counts["n"])
    new_dl_sum = counts["dl"] or 0

    # Re-ingest guard (the reference rejects duplicate uploads by hash,
    # app/controllers/document.py:150-156): a doc_id already in the base
    # would double its stats and postings — and would break the
    # disjoint-segments invariant the multi-run query kernel relies on.
    # Deduplicate upstream (left_anti on doc_id or content sha) before
    # compacting.
    overlap = delta_stats.join(index.doc_stats, "doc_id", "left_semi").count()
    if overlap:
        raise ValueError(
            f"{overlap} delta doc_ids already exist in the base index; "
            "dedup the delta (left_anti on doc_id) before compact_index"
        )

    n_docs = index.n_docs + n_new
    # exact cumulative accounting: the base's TRUE dl_sum, not
    # pinned_avgdl * n_docs — chained increments each pin avgdl, so the
    # pinned-mean approximation would systematically shrink measured
    # drift as n_docs grows and the rebuild guard would never fire
    base_dl_sum = float(
        index.manifest.get(
            "dl_sum",
            index.manifest.get("true_avgdl", index.avgdl) * index.n_docs,
        )
    )
    true_avgdl = (base_dl_sum + float(new_dl_sum)) / max(n_docs, 1)
    drift = abs(true_avgdl - pinned_avgdl) / max(pinned_avgdl, 1e-12)
    if drift > rebuild_threshold and not force:
        raise RuntimeError(
            f"avgdl drift {drift:.3f} exceeds rebuild threshold "
            f"{rebuild_threshold}: schedule a full rebuild (or force=True)"
        )

    delta_posts = delta.filter(F.col("term").isNotNull()).select(
        "term",
        "doc_id",
        bm25_weight_expr("cnt", "dl", pinned_avgdl, k1, b).alias("w"),
    )
    write_runs(delta_posts, out_dir, n_shards)
    delta_stats.write.mode("overwrite").parquet(f"{out_dir}/doc_stats")

    # term_stats must stay one-row-per-term (the query-side idf join
    # broadcasts it), so it is re-aggregated over the delta segment's
    # runs ∪ the base stats, each base row standing for all of its
    # term's base runs. O(vocabulary + delta runs) rows.
    seg = spark.read.parquet(f"{out_dir}/term_postings")
    base_runs = index.term_stats.select(
        "term", F.col("df").alias("df_shard"), F.col("bytes").alias("n_bytes")
    )
    term_stats(base_runs.unionByName(seg.select(*base_runs.columns))).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/term_stats")

    # carry tombstones forward: the merged snapshot must keep filtering
    # docs deleted from the base, or they silently reappear in results.
    n_carried = index.n_tombstones
    if n_carried:
        index.tombstones.write.mode("overwrite").parquet(f"{out_dir}/tombstones")

    out_abs = os.path.abspath(out_dir)
    base_segs = {
        name: _carried_refs(index, name, out_abs)
        for name in ("term_postings", "doc_stats")
    }
    shadow = _carried_shadow(index, out_abs)
    if shadow is not None:
        shadow.write.mode("overwrite").parquet(f"{out_dir}/shadowed_runs")

    delta_bytes = (
        seg.agg(
            F.sum("n_bytes").alias("b"), F.sum("df_shard").alias("p")
        ).collect()[0]
    )
    manifest = dict(index.manifest)
    manifest.update(
        {
            "format_version": FORMAT_VERSION,
            "n_docs": n_docs,
            "avgdl": pinned_avgdl,
            "true_avgdl": true_avgdl,
            "dl_sum": base_dl_sum + float(new_dl_sum),
            "avgdl_drift": drift,
            "increments": index.manifest.get("increments", 0) + 1,
            "segments": {
                # every entry is relative to this snapshot's directory:
                # "term_postings" is the delta segment inside it, the
                # "../..."-style entries are the carried base segments.
                # Move the common root as a unit and the chain survives;
                # full_compact still self-contains when you want a
                # snapshot with no external references at all.
                "term_postings": base_segs["term_postings"]
                + ["term_postings"],
                "doc_stats": base_segs["doc_stats"] + ["doc_stats"],
            },
            "metrics": {
                "docs_tokenized": n_new,
                # O(delta) evidence: posting bytes WRITTEN by this merge —
                # the delta segment only; carried segments contribute 0.
                "postings_emitted": int(delta_bytes["p"] or 0),
                "bytes_written_postings": int(delta_bytes["b"] or 0),
                "carried_segments": len(base_segs["term_postings"]),
            },
        }
    )
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    delta.unpersist()
    return manifest

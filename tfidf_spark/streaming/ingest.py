"""Structured Streaming incremental ingest (SURVEY.md §2.9).

The reference has no true streaming — uploads are processed synchronously
inside the HTTP request (reference app/controllers/document.py:174-184)
and the only time-window computation is a 24h sliding metric count
(reference app/services/metrics.py:47-63). This module provides the
Spark-native incremental path those semantics generalize to:

- ``stream_postings``: readStream over a corpus directory -> tokenize ->
  per-microbatch append of exploded postings (the incremental analog of
  the upload path's tokenize+insert).
- ``stream_metrics_24h``: sliding-window processed-file counts with a
  watermark — the A8 metric as a real streaming aggregation.

Incremental INDEX maintenance (merging new postings into compressed
(term, shard) runs) is deliberately batch: each microbatch appends to the
postings table, and ``compact_index`` encodes the new documents into a
delta segment through ``builder.write_runs`` (the build's encode plan)
and carries the base segments by reference, unread and unrewritten.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfidf_spark.operators.postings import with_term_counts


def stream_corpus(
    spark: SparkSession,
    source_dir: str,
    schema: str = "repo string, path string, commit string, lang string, content string",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """File-source stream of corpus rows (new parquet files = new docs)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def stream_postings(
    corpus_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "content",
    code_aware: bool = False,
):
    """Tokenize the stream and append exploded postings to parquet.

    Exactly-once via the streaming checkpoint; doc_id derived
    deterministically (xxhash64 of natural keys) so replays are
    idempotent at the row level too.
    """
    counted = with_term_counts(corpus_stream, text_col, code_aware)
    exploded = counted.select(
        F.xxhash64("repo", "path", "commit").alias("doc_id"),
        F.explode_outer("term_counts").alias("term", "cnt"),
        F.col("dl"),
        F.spark_partition_id().alias("part_id"),
    )
    return (
        exploded.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def stream_to_iceberg(
    corpus_stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    base_timestamp_ms: int = 1_700_000_000_000,
):
    """Streaming ingest INTO the Iceberg source table (VERDICT r6 task
    #5): a ``foreachBatch`` sink that writes each micro-batch's rows as
    parquet in the table's data dir and ``commit_append``s them as one
    snapshot, with the micro-batch id recorded in the snapshot summary
    (``streaming-batch-id``).

    Exactly-once across restarts: Spark's foreachBatch contract is
    at-least-once — after a crash the last batch REPLAYS with the same
    batch id — so the writer first consults the table's committed batch
    ids and skips any batch a snapshot already records. Snapshot commits
    are atomic (version-hint flip), so a crash between the parquet write
    and the commit leaves only unreferenced staging files, never a
    half-visible batch; the replay then re-writes and commits cleanly.

    Each committed snapshot is a normal append: ``incremental_changes``
    between any two streamed snapshot ids yields exactly the batches
    between them, which feeds ``compact_index`` for O(delta) index
    maintenance — the streaming leg of the north-rule's
    pin -> build -> change -> incremental-update loop.
    """
    return (
        corpus_stream.writeStream.foreachBatch(
            iceberg_batch_committer(table_dir, base_timestamp_ms)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )


def iceberg_batch_committer(
    table_dir: str, base_timestamp_ms: int = 1_700_000_000_000
):
    """The ``foreachBatch`` function behind ``stream_to_iceberg``,
    exposed so the replay guard is testable: committing a batch id the
    table already records is a no-op."""
    from tfidf_spark.sources import iceberg_meta

    def _commit_batch(batch_df, batch_id: int):
        if iceberg_meta.is_iceberg_table(table_dir):
            meta = iceberg_meta.current_metadata(table_dir)
            done = {
                (s.get("summary") or {}).get("streaming-batch-id")
                for s in meta.get("snapshots", [])
            }
            if str(batch_id) in done:
                return  # restart replay of an already-committed batch
        # resolve the table's default partition spec so streamed files
        # land in the same hive layout as batch-written ones (ADVICE r7
        # #3: always-unpartitioned _materialize next to hive-laid-out
        # files breaks partition pruning and basePath discovery)
        pfields = (
            iceberg_meta.partition_fields(
                iceberg_meta.current_metadata(table_dir)
            )
            if iceberg_meta.is_iceberg_table(table_dir)
            else []
        )
        files = iceberg_meta._materialize(batch_df, table_dir, pfields)
        files = [
            f
            for f in files
            if iceberg_meta._parquet_row_count(f if isinstance(f, str) else f[0])
        ]
        if not files:
            return
        iceberg_meta.commit_append(
            table_dir,
            files,
            spark_schema=batch_df.schema,
            timestamp_ms=base_timestamp_ms + int(batch_id),
            summary_extra={"streaming-batch-id": str(batch_id)},
        )

    return _commit_batch


def stream_metrics_24h(
    corpus_stream: DataFrame,
    ts_col: str = "ingested_at",
    slide: str = "1 hour",
) -> DataFrame:
    """Sliding 24h docs-processed count (the A8 metric,
    reference app/services/metrics.py:47-63) with late-data watermark."""
    with_ts = (
        corpus_stream.withColumn(ts_col, F.current_timestamp())
        if ts_col not in corpus_stream.columns
        else corpus_stream
    )
    return (
        with_ts.withWatermark(ts_col, "1 hour")
        .groupBy(F.window(F.col(ts_col), "24 hours", slide))
        .agg(F.count(F.lit(1)).alias("files_processed_last_24h"))
    )


def stream_sessions(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization with Spark's native session_window —
    state merges windows whose events are < gap apart and finalizes a
    session once the watermark passes its end. The streaming analog of
    the batch lag+flag sessionizer (entrypoints.q_events_sessions).

    Boundary semantics differ at EXACTLY gap: the batch rule keeps
    gap == 30 min in one session (``gap > 30min`` splits), while
    session_window extends a window to [ts, ts+gap) so an event exactly
    gap later starts a NEW session. Equal on any input without exact-gap
    ties; documented rather than papered over.

    Output per finalized session: (key, session_start_us, session_end_us,
    n_events) — epoch micros, never raw timestamps (driver hash rule).
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            F.col(key_col),
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )

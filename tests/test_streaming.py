"""Structured Streaming ingest tests: incremental postings appends are
exactly-once and replaying new files extends (never duplicates) the
postings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tfidf_spark.sources.corpus import synth_corpus, with_doc_id
from tfidf_spark.streaming.ingest import stream_corpus, stream_postings


def test_incremental_postings(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "postings")
    ckpt = str(tmp_path / "ckpt")

    first = with_doc_id(synth_corpus(spark, 40)).drop("doc_id")
    first.write.mode("append").parquet(src)

    q = stream_postings(stream_corpus(spark, src), out, ckpt).start()
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).select("doc_id").distinct().count()
    assert n1 == 40

    # new files arrive; availableNow trigger processes ONLY the delta
    more = with_doc_id(synth_corpus(spark, 60)).drop("doc_id").filter(
        F.xxhash64("repo", "path", "commit").isNotNull()
    )
    more.write.mode("append").parquet(src)
    q2 = stream_postings(stream_corpus(spark, src), out, ckpt).start()
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    # 40 first + 60 second batch, but the second batch re-contains the
    # first 40 docs (synth ids 0..59 overlap 0..39): file-level exactly-once
    # means no file processed twice; total distinct docs = 60
    assert got.select("doc_id").distinct().count() == 60
    # no (doc_id, term) duplicated MORE than its file-level multiplicity:
    # docs 0..39 appear in two files -> postings appear twice; 40..59 once
    dup_counts = (
        got.filter(F.col("term").isNotNull())
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.max("n").alias("mx"), F.min("n").alias("mn"))
        .collect()[0]
    )
    assert dup_counts["mx"] <= 2 and dup_counts["mn"] >= 1


def test_stateful_stream_dedup(spark, tmp_path):
    """Exact dedup state survives microbatch boundaries: a content hash
    first seen in batch 1 marks every later arrival (batch 2+) as dup,
    keyed state checkpointed between the two availableNow runs.

    Each logical batch is written as ONE parquet file (coalesce) so the
    operator's determinism contract applies: within a microbatch the
    minimum doc_id is the keeper; across microbatches first arrival wins.
    """
    from tfidf_spark.streaming.stateful import stream_dedup_exact

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    schema = "doc_id long, content string"

    spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha beta"), (3, "unique one")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream_dedup_exact(stream, text_col="content")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got1 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got1[1]["is_dup"] is False and got1[1]["keeper_id"] == 1
    assert got1[2]["is_dup"] is True and got1[2]["keeper_id"] == 1
    assert got1[3]["is_dup"] is False

    # batch 2: a re-upload of doc 1's content AND a fresh doc
    spark.createDataFrame(
        [(9, "alpha beta"), (4, "brand new text")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    rows2 = spark.read.parquet(out).collect()
    got2 = {r["doc_id"]: r for r in rows2}
    assert got2[9]["is_dup"] is True and got2[9]["keeper_id"] == 1  # state held
    assert got2[4]["is_dup"] is False
    # invariant: exactly one is_dup=False per content hash, ever
    keepers: dict[str, int] = {}
    for r in rows2:
        if not r["is_dup"]:
            keepers[r["content_sha256"]] = keepers.get(r["content_sha256"], 0) + 1
    assert set(keepers.values()) == {1} and len(keepers) == 3


def test_stateful_dedup_fn_chunked():
    """_dedup_fn is chunk-order-independent: the keeper is the GLOBAL
    min doc_id across all Arrow chunks of a group, and a duplicated
    keeper row within the batch still yields exactly one is_dup=False."""
    import pandas as pd

    from tfidf_spark.streaming.stateful import _dedup_fn

    class _FakeState:
        def __init__(self):
            self.exists = False
            self.get = None

        def update(self, v):
            self.exists, self.get = True, v

    st = _FakeState()
    # keeper (id=1) arrives in the SECOND chunk, and appears twice
    chunks = iter(
        [
            pd.DataFrame({"doc_id": [5, 7]}),
            pd.DataFrame({"doc_id": [1, 1, 3]}),
        ]
    )
    out = pd.concat(list(_dedup_fn(("h",), chunks, st)), ignore_index=True)
    assert out["keeper_id"].eq(1).all()
    assert int((~out["is_dup"]).sum()) == 1
    assert int(out.loc[~out["is_dup"], "doc_id"].iloc[0]) == 1
    assert st.get == (1, 5)

    # a later microbatch containing the keeper again: all dups
    chunks2 = iter([pd.DataFrame({"doc_id": [1, 9]})])
    out2 = pd.concat(list(_dedup_fn(("h",), chunks2, st)), ignore_index=True)
    assert out2["is_dup"].all() and out2["keeper_id"].eq(1).all()
    assert st.get == (1, 7)


def test_stream_sessions(spark, tmp_path):
    """Streaming session_window sessions match the batch gap-rule
    sessionizer on a fixture with no exact-gap ties (where the two
    semantics provably coincide — see stream_sessions docstring)."""
    import datetime as dt

    from tfidf_spark.streaming.ingest import stream_sessions

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: two sessions (gap of 45 min > 30 min splits)
        (1, m(0)), (1, m(10)), (1, m(20)),
        (1, m(65)), (1, m(70)),
        # user 2: one session, single event
        (2, m(5)),
        # user 3: three sessions
        (3, m(0)), (3, m(40)), (3, m(80)),
    ]
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
        1
    ).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "sess_out")
    q = (
        stream_sessions(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # append-mode session output only finalizes windows the watermark
    # passed; a second batch far in the future closes the rest
    late = [(9, m(100 * 60))]
    spark.createDataFrame(late, "user_id long, ts timestamp").coalesce(
        1
    ).write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = (
        stream_sessions(stream2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    got = spark.read.parquet(out)
    per_user = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in got.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .collect()
    }
    assert per_user[1] == (2, 5)
    assert per_user[2] == (1, 1)
    assert per_user[3] == (3, 3)
    # session bounds: user 1's first session spans [0, 20min] + 30min gap
    s1 = sorted(
        [
            (r["session_start_us"], r["session_end_us"], r["n_events"])
            for r in got.filter(F.col("user_id") == 1).collect()
        ]
    )
    base_us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert s1[0][0] == base_us
    assert s1[0][1] == base_us + (20 + 30) * 60 * 1_000_000
    assert s1[0][2] == 3


def test_stream_sessions_late_data_watermark(spark, tmp_path):
    """Pins the documented watermark semantics of stream_sessions with an
    explicit late-arrival fixture (VERDICT r3 #8):

    - an event OLDER than (max event time - watermark) when its batch
      runs is DROPPED — it neither opens a new session nor reopens the
      finalized one;
    - an out-of-order event still WITHIN the watermark is assigned into
      its session like any on-time event.
    """
    import datetime as dt

    from tfidf_spark.streaming.ingest import stream_sessions

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    def run_batches(tag, batches):
        src = str(tmp_path / f"late_src_{tag}")
        out = str(tmp_path / f"late_out_{tag}")
        ckpt = str(tmp_path / f"late_ckpt_{tag}")
        for rows in batches:
            spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
                1
            ).write.mode("append").parquet(src)
            stream = (
                spark.readStream.schema("user_id long, ts timestamp")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = (
                stream_sessions(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        return {
            (r["user_id"], r["session_start_us"]): r["n_events"]
            for r in spark.read.parquet(out).collect()
        }

    us = lambda minutes: int(m(minutes).timestamp() * 1_000_000)

    # -- DROP case: batch 1's far-future event pushes the watermark way
    # past user 1's session and finalizes it; batch 2's event at t=5min
    # is then far below the watermark and must vanish entirely.
    flush1, flush2 = m(200 * 60), m(400 * 60)
    dropped = run_batches(
        "drop",
        [
            [(1, m(0)), (1, m(10)), (1, m(20)), (9, flush1)],
            [(1, m(5)), (9, flush2)],  # 5min << watermark: dropped
        ],
    )
    assert dropped[(1, us(0))] == 3  # finalized session unchanged
    assert [k for k in dropped if k[0] == 1] == [(1, us(0))]  # no new session

    # -- ACCEPT case: after batch 1 the max event time is only t0+20min,
    # so the watermark (1h) still covers t0-40min; the out-of-order event
    # at t=5min in batch 2 must merge into the session before a later
    # batch finalizes it.
    accepted = run_batches(
        "accept",
        [
            [(1, m(0)), (1, m(10)), (1, m(20))],
            [(1, m(5))],  # out-of-order but within the watermark
            [(9, flush1)],
            [(9, flush2)],
        ],
    )
    assert accepted[(1, us(0))] == 4  # late event counted into the session


# --------------------------------------------------------------------------
# streaming -> Iceberg commit path (round 7, VERDICT r6 task #5)
# --------------------------------------------------------------------------

def test_stream_to_iceberg_exactly_once_and_incremental_index(spark, tmp_path):
    """The full streaming leg of the north-rule loop: micro-batches
    commit as Iceberg append snapshots (batch id in the summary);
    restarts never double-commit; incremental_changes between two
    streamed snapshots feeds compact_index; results rank-identical to
    the reference oracle over the same corpus (avgdl pinned)."""
    from pyspark.sql import functions as F

    from tfidf_spark.index.builder import build_index, load_index
    from tfidf_spark.index.incremental import compact_index
    from tfidf_spark.index.query import bm25_query_terms
    from tfidf_spark.oracle import OracleIndex
    from tfidf_spark.sources import iceberg_meta
    from tfidf_spark.sources.catalog import incremental_changes, read_table
    from tfidf_spark.sources.corpus import synth_corpus, with_doc_id
    from tfidf_spark.streaming.ingest import stream_corpus, stream_to_iceberg

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    cols = ["repo", "path", "commit", "lang", "content"]

    full = with_doc_id(synth_corpus(spark, 90, partitions=3)).cache()
    base = full.filter(F.col("doc_id") % 3 != 0).cache()
    delta = full.filter(F.col("doc_id") % 3 == 0).cache()
    base.count()

    def run_stream():
        q = stream_to_iceberg(
            stream_corpus(spark, src, max_files_per_trigger=2), tbl, ckpt
        ).start()
        q.awaitTermination(120)

    base.select(*cols).repartition(4).write.parquet(src)
    run_stream()

    meta = iceberg_meta.current_metadata(tbl)
    batch_ids = [
        s["summary"]["streaming-batch-id"] for s in meta["snapshots"]
    ]
    assert len(batch_ids) >= 2  # 4 files / maxFilesPerTrigger=2
    assert len(set(batch_ids)) == len(batch_ids)
    s1 = meta["current-snapshot-id"]
    got1, _ = read_table(spark, tbl)
    assert got1.count() == base.count()
    # per-row content sha equality vs the source frame (input_hint rule)
    assert (
        with_doc_id(got1).select("doc_id", F.sha2("content", 256)).exceptAll(
            base.select("doc_id", F.sha2("content", 256))
        ).count()
        == 0
    )

    # restart with nothing new: the checkpoint replays no batches and
    # the table's committed-batch-id guard double-commits nothing
    n_snaps = len(meta["snapshots"])
    run_stream()
    assert len(iceberg_meta.current_metadata(tbl)["snapshots"]) == n_snaps

    # crash-replay simulation: Spark's foreachBatch contract re-fires
    # the last batch id after a failure — re-committing it is a no-op
    from tfidf_spark.streaming.ingest import iceberg_batch_committer

    iceberg_batch_committer(tbl)(base.select(*cols), int(batch_ids[-1]))
    assert len(iceberg_meta.current_metadata(tbl)["snapshots"]) == n_snaps

    # second era arrives
    delta.select(*cols).repartition(2).write.mode("append").parquet(src)
    run_stream()
    meta2 = iceberg_meta.current_metadata(tbl)
    assert len(meta2["snapshots"]) > n_snaps
    s2 = meta2["current-snapshot-id"]

    # CDC between the two streamed snapshots is exactly the delta
    appended, deleted, to_id = incremental_changes(
        spark, tbl, from_snapshot_id=s1, to_snapshot_id=s2
    )
    assert deleted is None
    assert appended.count() == delta.count()
    assert (
        with_doc_id(appended).select("doc_id").exceptAll(
            delta.select("doc_id")
        ).count()
        == 0
    )

    # incremental index maintenance off the streamed CDC feed,
    # rank-identical to the oracle over the union
    base_dir = str(tmp_path / "ibase")
    build_index(with_doc_id(got1), base_dir, n_shards=4,
                source_snapshot=f"iceberg:{s1}")
    base_idx = load_index(spark, base_dir)
    merged_dir = str(tmp_path / "imerged")
    compact_index(base_idx, with_doc_id(appended), merged_dir, force=True)

    oracle = OracleIndex(
        {r["doc_id"]: r["content"] for r in full.select("doc_id", "content").collect()}
    )
    oracle.avgdl = base_idx.avgdl  # compact_index pins the base's avgdl
    merged = load_index(spark, merged_dir)
    for terms in (["w0"], ["w1", "w7"], ["w3", "w250"]):
        got = bm25_query_terms(merged, terms, k=15).collect()
        expect = oracle.bm25_topk(terms, 15)
        assert [r["doc_id"] for r in got] == [d for d, _ in expect], terms
        for r, (_, score) in zip(got, expect):
            assert r["score"] == pytest.approx(score, rel=1e-9), terms


def test_stream_into_partitioned_table_inherits_spec(spark, tmp_path):
    """Streaming into an identity-partitioned table must materialize
    each batch under the table's default spec (hive layout + partition
    tuples), not as flat unpartitioned files next to hive dirs (ADVICE
    r7 #3) — otherwise partition pruning can't see streamed rows and
    Spark's basePath discovery breaks over the mixed layout."""
    import glob
    import os

    from pyspark.sql import functions as F

    from tfidf_spark.sources import iceberg_meta
    from tfidf_spark.sources.catalog import read_table
    from tfidf_spark.sources.corpus import synth_corpus, with_doc_id
    from tfidf_spark.streaming.ingest import stream_corpus, stream_to_iceberg

    src = str(tmp_path / "src")
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    cols = ["repo", "path", "commit", "lang", "content"]

    full = with_doc_id(synth_corpus(spark, 60, partitions=2)).cache()
    base = full.filter(F.col("doc_id") % 2 == 0)
    # batch-create the partitioned table, then stream the rest in
    iceberg_meta.write_table(base.select(*cols), tbl, partition_by=["lang"])

    delta = full.filter(F.col("doc_id") % 2 != 0)
    delta.select(*cols).repartition(2).write.parquet(src)
    q = stream_to_iceberg(stream_corpus(spark, src), tbl, ckpt).start()
    q.awaitTermination(120)

    # every data file sits under a lang=... hive dir and carries a
    # partition tuple; pruning by lang sees streamed rows too
    ent = iceberg_meta.snapshot_entries(tbl)
    assert all(d["partition"].get("lang") is not None for d in ent["data"])
    flat = [
        p for p in glob.glob(os.path.join(tbl, "data", "*.parquet"))
    ]
    assert flat == []  # no unpartitioned stragglers
    langs = {r["lang"] for r in full.select("lang").distinct().collect()}
    one = sorted(langs)[0]
    got, _ = read_table(spark, tbl, partition_filter={"lang": [one]})
    want = full.filter(F.col("lang") == one).count()
    assert got.count() == want
    full.unpersist()

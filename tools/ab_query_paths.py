"""Same-session interleaved A/B for the r8 QUERY-PATH rewrites, the
evidence standard VERDICT r6/r7 mandate for hot-path changes (the
builder A/B harness covers builder.py; this covers query.py + the
dedup signature/simhash kernels, whose r7 shapes are reconstructed
inline from the unchanged building blocks).

Sides per metric, run alternating inside ONE Spark session:

- batch_kernel: groupBy().applyInPandas(_topk_slice)  vs  the r8
  repartition+sort+mapInPandas(_topk_stream) — identical rows
  asserted (scores at 1e-9).
- signatures: doc_shingle_arrays -> minhash_signatures (shingle strings
  cross the Python->JVM boundary, md5 JVM-side)  vs  the r8 one-kernel
  minhash_signatures_docs — identical (doc_id, seed, minhash) asserted.
- lsh_end_to_end: the r7 self-join+window pair generation over the r7
  signature pipeline  vs  the r8 groupBy+HOF pairs over the r8 kernel —
  identical (a, b, n_bands) asserted.
- simhash: postings explode + repartition + kernel  vs  the r8
  zero-shuffle simhash_docs — identical fingerprints asserted.

Writes BENCH/AB_QUERY_R8.json. EXCLUSIVE: do not run concurrently with
other Spark jobs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def r7_lsh_pairs(signatures, band_size=1, max_bucket=100):
    """The r7 shape, reconstructed: bucket-size window + self-join."""
    banded = signatures.withColumn("band", (F.col("seed") / band_size).cast("int"))
    keys = banded.select("doc_id", "band", F.col("minhash").alias("bucket"))
    w = Window.partitionBy("band", "bucket")
    keys = keys.withColumn("bsz", F.count(F.lit(1)).over(w)).filter(
        F.col("bsz") <= max_bucket
    ).drop("bsz")
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    )


def main():
    from tfidf_spark.index import query as Q
    from tfidf_spark.index.builder import build_index, load_index
    from tfidf_spark.operators import dedup
    from tfidf_spark.operators.postings import build_postings
    from tfidf_spark.session import get_spark
    from tfidf_spark.sources.corpus import reference_queries, synth_corpus, with_doc_id

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("AB_ROUNDS", "7"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="ab-query-r8", master=f"local[{cpus}]",
        shuffle_partitions=max(4, cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    workdir = tempfile.mkdtemp(prefix="abq_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    try:
        corpus = with_doc_id(synth_corpus(spark, 20000, partitions=cpus * 2))
        build_index(corpus, f"{workdir}/idx", n_shards=max(4, cpus // 2))
        idx = load_index(spark, f"{workdir}/idx")
        qset = reference_queries(50)
        known = sorted({t for _, ts, _ in qset for t in ts})
        qterms = spark.createDataFrame(
            [(int(q), int(k), ts, t) for q, ts, k in qset for t in dict.fromkeys(ts)],
            "query_id long, k int, terms array<string>, term string",
        )
        tp = idx.term_postings.filter(F.col("term").isin(known))
        ts_ = idx.term_stats.filter(F.col("term").isin(known))
        q_with_df = qterms.join(ts_, "term", "left").select(
            "query_id", "k", "terms", "term",
            F.coalesce(F.col("df"), F.lit(1)).alias("df"),
        )
        rows = tp.join(F.broadcast(q_with_df), "term", "inner").select(
            "query_id", "k", "terms", "term", "df", "shard",
            "postings", "weights", "block_last", "block_max", "block_off",
        )
        n_docs = idx.n_docs
        kernel_r7 = rows.groupBy("query_id", "shard").applyInPandas(
            lambda pdf: Q._topk_slice(pdf, n_docs), Q._KERNEL_SCHEMA
        )
        kernel_r8 = (
            rows.repartition("query_id", "shard")
            .sortWithinPartitions("query_id", "shard", "term")
            .mapInPandas(lambda it: Q._topk_stream(it, n_docs), Q._KERNEL_SCHEMA)
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.count()
        sig_r7 = lambda: dedup.minhash_signatures(  # noqa: E731
            dedup.doc_shingle_arrays(docs, n=3, text_col="text")
        )
        sig_r8 = lambda: dedup.minhash_signatures_docs(  # noqa: E731
            docs, n=3, text_col="text"
        )
        sim_r7 = lambda: dedup.simhash(  # noqa: E731
            build_postings(docs, text_col="text").select("doc_id", "term", "cnt")
        )
        sim_r8 = lambda: dedup.simhash_docs(docs, text_col="text")  # noqa: E731

        # ---- result identity, asserted once per metric
        a = sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in kernel_r7.collect()
        )
        b = sorted(
            (r["query_id"], r["doc_id"], round(r["score"], 9))
            for r in kernel_r8.collect()
        )
        assert a == b, "batch kernel rows differ"
        sa = sorted(map(tuple, sig_r7().collect()))
        sb = sorted(map(tuple, sig_r8().collect()))
        assert sa == sb, "signatures differ"
        la = sorted(map(tuple, r7_lsh_pairs(sig_r7()).collect()))
        lb = sorted(
            map(tuple, dedup.lsh_candidate_pairs(sig_r8(), 1, 100).collect())
        )
        assert la == lb, "lsh pairs differ"
        ha = sorted(map(tuple, sim_r7().collect()))
        hb = sorted(map(tuple, sim_r8().collect()))
        assert ha == hb, "simhash differs"
        identity = {
            "batch_kernel_rows": len(a),
            "signature_rows": len(sa),
            "lsh_pairs": len(la),
            "simhash_rows": len(ha),
        }

        metrics = {
            "batch_kernel": (lambda: noop(kernel_r7), lambda: noop(kernel_r8)),
            "signatures": (lambda: noop(sig_r7()), lambda: noop(sig_r8())),
            "lsh_end_to_end": (
                lambda: r7_lsh_pairs(sig_r7()).count(),
                lambda: dedup.lsh_candidate_pairs(sig_r8(), 1, 100).count(),
            ),
            "simhash": (lambda: noop(sim_r7()), lambda: noop(sim_r8())),
        }
        samples = {m: {"r7": [], "r8": []} for m in metrics}
        for r in range(rounds):
            for m, (f7, f8) in metrics.items():
                order = (("r7", f7), ("r8", f8)) if r % 2 == 0 else (("r8", f8), ("r7", f7))
                for side, fn in order:
                    t0 = time.perf_counter()
                    fn()
                    samples[m][side].append(time.perf_counter() - t0)
            print(f"round {r} done", flush=True)
        out = {
            "rounds": rounds,
            "cpus": cpus,
            "sf_dir": sf_dir,
            "identity": identity,
            "metrics": {
                m: {
                    side: {
                        "median": round(statistics.median(v), 3),
                        "min": round(min(v), 3),
                        "samples": [round(x, 3) for x in v],
                    }
                    for side, v in s.items()
                }
                for m, s in samples.items()
            },
            "r8_over_r7_median_ratio": {
                m: round(
                    statistics.median(s["r8"]) / statistics.median(s["r7"]), 3
                )
                for m, s in samples.items()
            },
        }
        with open(os.path.join(root, "BENCH", "AB_QUERY_R8.json"), "w") as f:
            json.dump(out, f, indent=2)
        print(json.dumps(out["r8_over_r7_median_ratio"]))
        print("identity:", identity)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()

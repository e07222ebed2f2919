"""SparkSession factory with scale-appropriate defaults.

Defaults target local[N] testing but every knob is the one you'd tune on a
real multi-executor cluster: AQE on (runtime coalesce + skew handling),
Arrow batches for the pandas-UDF kernels, shuffle partitions sized to
parallelism (not the 200 default, which at 100 TB you'd raise into the
thousands — proportional to cores either way).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tfidf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else all cores).
    shuffle_partitions defaults to the core count — on a real cluster set
    this to 2-3x total executor cores (or rely on AQE coalescing).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        inner = master.split("[", 1)[-1].rstrip("]")
        shuffle_partitions = 32 if inner == "*" else max(4, int(inner))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10k-row Arrow batches as the SESSION default: this knob also
        # governs text-carrying UDFs (tokenize, Huffman), where 100k rows
        # x ~10KB docs would materialize ~1GB per in-flight batch per
        # Python worker. The posting-encode stage, whose ~30B rows DO
        # want big batches (per-batch kernel overhead measured material
        # at 10k on 28M-row streams), raises it to 100k around its own
        # job only (index/builder.write_runs).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate infers size(term_counts)>0 below the
        # postings explode and DUPLICATES the Arrow tokenize UDF (observed:
        # two ArrowEvalPython nodes per scan) — tokenization would run twice
        # per document. The generator already skips empty maps, so the
        # inferred filter buys nothing here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # local mode runs every task in the driver JVM: concurrent parquet
        # writers alone hold ~128MB row-group buffers per task, so heap
        # must scale with cores or 32-way runs GC-thrash.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

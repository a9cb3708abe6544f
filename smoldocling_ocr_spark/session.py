"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what a 1000-executor deployment would set per
executor: AQE on (runtime re-plan + skew handling), Arrow transfer on with a
bounded records-per-batch (html payloads are large — SURVEY.md §4.1 item 3),
shuffle partitions sized to cores not the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# html blobs average tens of KB; keep Arrow batches ~8-32 MB
ARROW_BATCH_ROWS = 256


def get_spark(
    app_name: str = "smoldocling_ocr_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    n_cores = (os.cpu_count() or 8) if cores == "*" else int(cores)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n_cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce/re-plan below .cache() boundaries — by default a
        # cached plan pins its partitioning and the whole cached subtree runs
        # at full shuffle width even when 64 partitions hold a few MB
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(executors: int = 1000, executor_cores: int = 8) -> dict[str, str]:
    """The spark-submit conf this job ships with on a real cluster —
    deployment profile as code, sized for the 100 TB / 10^12-doc target.

    Rationale per knob:
    * shuffle partitions ≈ 2× total cores so AQE coalesces down, never up
    * 64 MB scan splits: html-heavy rows make row-count per split the memory
      unit, not bytes; smaller splits bound Arrow batch memory per task
    * maxRecordsPerBatch matches session default (binary payloads are large)
    * speculation on: a straggling host re-runs tail extraction tasks — the
      fused stage is idempotent per partition
    * kryo + 128m buffer: element structs and markdown strings serialize hot
    * dynamicAllocation off: throughput jobs want stable executor count for
      the N vs 4N scaling contract to mean anything
    """
    total_cores = executors * executor_cores
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(executor_cores),
        "spark.executor.memory": "24g",
        "spark.executor.memoryOverhead": "6g",  # Arrow + python workers
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.files.maxPartitionBytes": "64m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.speculation": "true",
        "spark.speculation.quantile": "0.95",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.kryoserializer.buffer.max": "128m",
        "spark.dynamicAllocation.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }

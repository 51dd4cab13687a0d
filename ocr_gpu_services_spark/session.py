"""SparkSession factory with the engine's standard configuration
(SURVEY.md §7.4).

Local mode stands in for the cluster here; every knob is chosen for the
1000-executor / 100 TB case and merely scaled down by core count:
* AQE on (runtime coalesce/re-plan)
* shuffle partitions >= 4x cores for the JVM operators (same ratio at
  cluster scale); the Python kernel stage sizes itself (rebalance.py)
* Arrow batches capped by records — the kernel additionally re-chunks by
  BYTES so a mega-page cannot blow up a single Arrow batch
* python worker reuse keeps per-partition models warm across tasks (the
  batch analogue of the reference's process-level model singletons,
  /root/reference/src/api/v1/dependencies.py:8-20)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "ocr-gpu-services-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or None
    master = os.environ.get("SPARK_MASTER",
                            f"local[{cores}]" if cores else "local[*]")
    if shuffle_partitions is None:
        n = cores or (os.cpu_count() or 8)
        shuffle_partitions = max(32, 4 * n)
    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.python.worker.reuse", "true")
        .config("spark.task.maxFailures", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

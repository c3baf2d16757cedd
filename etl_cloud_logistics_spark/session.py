"""SparkSession factory.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy demotion replace most hand-tuning.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a real
  cluster set it to ~2-3x total cores and let AQE coalesce.
- Session timezone pinned to UTC so event-time semantics are stable across
  the fleet (and so the DuckDB oracle, which is UTC-naive, agrees).
- Arrow enabled for the few Pandas-UDF operators (similarity, multimodal);
  everything else is JVM-side whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "etl-cloud-logistics-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-aware defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    return (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # reliable checkpoints (a session checkpoint directory, see
        # operators/checkpointing.py) are deleted with their RDD, the
        # lifetime a localCheckpoint block has
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .getOrCreate()
    )

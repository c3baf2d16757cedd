"""Date-partitioned lake layout (operator S7, SURVEY.md §2.1).

The reference writes raw-data/processed-data/backups prefixes into S3 with
date partitioning and lifecycle rules (``scripts/06_aws_setup.py:59-99``,
``README.md:96`` "almacenamiento por particiones de fecha").  The Spark-native
equivalent is a Hive-style ``partitionBy`` parquet layout: partition pruning
then makes date-ranged scans read only the touched directories.

Scale notes (100 TB):
- one partition column of daily grain keeps directory counts manageable
  (~365/year); never partition by a high-cardinality key.
- ``maxRecordsPerFile`` bounds file sizes so a 1000-executor scan gets
  balanced splits; small-file compaction is a rewrite of one partition,
  not the table.
- writes are idempotent per partition via dynamic partition overwrite
  (``partitionOverwriteMode=dynamic``): re-running a day replaces exactly
  that day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_lake(
    df: DataFrame,
    path: str,
    date_col: str,
    partition_col: str = "ingest_date",
    mode: str = "overwrite",
    max_records_per_file: int = 1_000_000,
) -> None:
    """Write ``df`` date-partitioned: derives ``partition_col`` =
    ``to_date(date_col)`` and lays out ``path/partition_col=YYYY-MM-DD/``.

    Dynamic partition overwrite → re-loading one day touches only that
    day's directory (the reference's daily incremental semantics,
    etl_pipeline.py:1176-1279, without truncate-and-reload).
    """
    (
        df.withColumn(partition_col, F.to_date(F.col(date_col)))
        .write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(partition_col)
        .parquet(path)
    )

"""Per-group z-score normalization as native window aggregates.

The engine's UDF policy (SURVEY.md §2.10): native expressions first, Arrow
batches only when Python is genuinely needed.  Mean/std here are window
aggregates over the group partition: whole-stage codegen, one shuffle on
the group key, and an exact SQL oracle in the query registry.  The
GROUPED_MAP ``applyInPandas`` shape, for per-group work that truly needs
pandas, runs in ``operators.curation.pack_sequences``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def normalize_native(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """z = (x - mean_group) / stddev_group, NULL for singleton groups."""
    w = W.partitionBy(group_col)
    mean = F.mean(value_col).over(w)
    std = F.stddev_samp(value_col).over(w)
    return df.withColumn(
        "z", F.when(std > 0, (F.col(value_col) - mean) / std)
    )


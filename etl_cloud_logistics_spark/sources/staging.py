"""JSON staging sink (operator S5, SURVEY.md §2.1).

The reference serializes each daily extract to JSON and lands it in a
Snowflake VARIANT staging table (``etl_pipeline.py:966-974``,
``04_dimensional_model.sql:171-174``: ``staging_daily_load(raw_data VARIANT,
load_timestamp)``).  The Spark-native twin keeps the same audit semantics —
the raw extract is preserved verbatim, schema-on-read — but stays columnar:
one JSON document per row (not per batch, which would concentrate a day into
a single driver-sized string) plus batch metadata columns.

Scale note: per-row JSON keeps the staging write embarrassingly parallel and
a read-back re-projectable by Catalyst (``from_json`` then column pruning).
A per-batch mega-document (the reference's shape) caps out at driver memory;
this is the deliberate departure, cited in SURVEY.md §3.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_json_staging(df: DataFrame, path: str, batch_id: str) -> None:
    """Serialize every row to one JSON document + audit columns; append to
    the staging area.  ``to_json(struct(*))`` runs JVM-side (no Python)."""
    (
        df.select(
            F.to_json(F.struct(*df.columns)).alias("raw_data"),
            F.lit(batch_id).alias("batch_id"),
            F.current_timestamp().alias("load_timestamp"),
        )
        .write.mode("append")
        .parquet(path)
    )

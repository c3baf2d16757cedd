"""Sources & sinks (SURVEY.md §2.1).

The reference's IO surface — Snowflake ``write_pandas`` bulk loads (S4),
JSON→VARIANT staging (S5), the date-partitioned S3 lake (S7), DynamoDB
point upserts (S8) — re-expressed as native Spark writers.
"""

from .generator import generate_trips_like, uniform_ts, weighted_choice
from .lake import write_partitioned_lake
from .snapshots import ConcurrentWriteError, SnapshotTable
from .layout import zorder_key_for
from .staging import write_json_staging
from .upsert import foreach_batch_upsert, upsert_parquet

__all__ = [
    "write_partitioned_lake",
    "write_json_staging",
    "upsert_parquet",
    "foreach_batch_upsert",
    "SnapshotTable",
    "ConcurrentWriteError",
    "generate_trips_like",
    "weighted_choice",
    "uniform_ts",
    "zorder_key_for",
]

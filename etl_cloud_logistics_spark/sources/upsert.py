"""Keyed upsert sink (operator S8, SURVEY.md §2.1).

The reference keeps real-time state in DynamoDB via ``put_item`` point
upserts (``scripts/07_lambda_functions.py:108-120,205-207``).  The Spark
twin is last-writer-wins-by-version merge into a keyed parquet table:
``upsert_parquet`` for batch, ``foreach_batch_upsert`` to use it as a
Structured Streaming ``foreachBatch`` sink (SURVEY.md §2.9 ST2/ST5).

Scale notes (100 TB):
- last-writer-wins is resolved with one hash aggregation (``max_by`` over
  the version column), not a window sort — single shuffle on the key.
- rewrite-the-table is correct-but-heavy at scale; the production path is
  the same logic over a Delta/Iceberg ``MERGE`` (row-level commit).  The
  algorithm below is storage-format-agnostic on purpose, and the state
  table it maintains is assumed ORDERS-of-magnitude smaller than the fact
  stream feeding it (it is keyed state, one row per entity).
- reads of the state table are point-lookup-ish: keep it bucketed or
  z-ordered by key in production so the merge join co-locates.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def atomic_overwrite(df: DataFrame, target_path: str) -> None:
    """Materialize ``df`` to a sibling temp dir, then swap it in with
    directory renames.  A complete table is always on disk: a plain
    ``mode('overwrite')`` on the target deletes the existing data BEFORE
    the new files land, so a mid-write crash loses the table; here the old
    directory survives (as ``._old``) until the new one is in place.

    Contract: SINGLE writer (the swap itself is not serialized), and there
    is a brief window between the two renames where ``target_path`` does
    not exist — a concurrent reader must retry.  A crash inside that window
    leaves the table at ``._old`` only; the next call recovers it
    automatically before writing.  Local-fs semantics; object stores use
    a commit protocol / table format instead — or ``SnapshotTable``, whose
    readers never observe a missing path."""
    tmp = target_path.rstrip("/") + "._tmp_swap"
    old = target_path.rstrip("/") + "._old"
    _recover_interrupted_swap(target_path)
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(target_path):
        os.rename(target_path, old)
    os.rename(tmp, target_path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_interrupted_swap(target_path: str) -> None:
    """If a previous ``atomic_overwrite`` crashed between its two renames,
    the table exists only at '._old' — restore it so readers and the next
    merge see the pre-crash state."""
    old = target_path.rstrip("/") + "._old"
    if not os.path.exists(target_path) and os.path.isdir(old):
        os.rename(old, target_path)


def _merge_latest(existing: DataFrame | None, updates: DataFrame, keys: list[str], version_col: str) -> DataFrame:
    missing = [c for c in [*keys, version_col] if c not in updates.columns]
    if missing:
        raise ValueError(f"updates must carry key/version columns, missing {missing}")
    # allowMissingColumns = schema evolution: a column present on only one
    # side reads as NULL on the other.  Semantics are whole-row last-writer-
    # wins (the row model of this sink), so an update row that wins a key
    # but lacks an old column sets it NULL — documented, and what full-row
    # CDC feeds produce; a newly added column is NULL for never-updated keys
    all_rows = (
        updates
        if existing is None
        else existing.unionByName(updates, allowMissingColumns=True)
    )
    payload = [c for c in all_rows.columns if c not in keys]
    # one hash-agg: per key, take every payload column from the max-version
    # row (ties broken by the later union operand is NOT deterministic, so
    # version_col must be unique per key-write; callers use event ids/ts)
    return all_rows.groupBy(*keys).agg(
        *[F.max_by(c, F.col(version_col)).alias(c) for c in payload]
    )


def upsert_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
) -> DataFrame:
    """Merge ``updates`` into the keyed table at ``target_path``: per key the
    row with the highest ``version_col`` wins.  Returns the merged frame
    (also written back via the write-then-RENAME swap: the merged table is
    fully materialized beside the target before any rename, so a crash at
    any point leaves a complete table on disk — at the target, or at
    ``._old`` from which the next call auto-recovers; see
    ``atomic_overwrite`` for the single-writer contract)."""
    _recover_interrupted_swap(target_path)
    existing = None
    if os.path.exists(target_path):
        existing = spark.read.parquet(target_path)
    merged = _merge_latest(existing, updates, keys, version_col)
    atomic_overwrite(merged, target_path)
    return spark.read.parquet(target_path)


def foreach_batch_upsert(
    target_path: str, keys: list[str], version_col: str
) -> Callable[[DataFrame, int], None]:
    """``writeStream.foreachBatch`` adapter: each micro-batch merges into the
    keyed state table (ST2's DynamoDB ``deliveries_status`` twin)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(batch_df.sparkSession, target_path, batch_df, keys, version_col)

    return sink

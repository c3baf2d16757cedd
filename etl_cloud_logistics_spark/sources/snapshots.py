"""Versioned lake table with a transaction log — the production-shaped
storage path for the versioned ANN index of ``pipelines.run_index_build``
(SURVEY.md §2.1, §4).

The reference leans on warehouse-native table services: Snowflake Time
Travel / zero-copy clones (``scripts/04_dimensional_model.sql:162-168``).
Spark has no built-in versioned table, so this module implements the
public transaction-log design (Delta Lake, VLDB 2020; Apache Iceberg spec)
over plain parquet, cut to the lifecycle the index uses: write a new
version, read the latest, time-travel to an older one:

    table_dir/
      _log/00000000000000000000.json   one manifest per committed version
      data/v0-<id>/part-*.parquet      immutable data directories

- A manifest names the data directory of that version, plus bookkeeping
  (parent, schema).  Committed data is never mutated, so a reader that has
  picked a manifest sees an immutable snapshot — reads are
  snapshot-isolated with no locks, and every historical version stays
  readable (time travel).
- Commit protocol: the manifest is fully written to a temp name (+fsync),
  then ``os.link``-ed to its final version-numbered name.  ``link`` is
  atomic and FAILS if the destination exists, which is the optimistic
  concurrency check — two writers racing to the same version cannot both
  win; the loser raises ``ConcurrentWriteError`` and must rebase.  This is
  exactly Delta's "mutual exclusion on log-record creation" (paper §3.2),
  expressed with local-fs primitives; on S3 the same slot-claim runs via a
  conditional PUT / DynamoDB lock table.  A crash anywhere before the link
  leaves the previous version intact and visible.
- The parent version is pinned ONCE at the start of a write and the commit
  targets ``parent + 1``, so a rebuild that races another for the same
  slot collides on the slot-claim instead of silently replacing it.
- The LOG owns the table schema (Delta's rule): every manifest records the
  version's schema and readers apply it by name over the data files, so a
  read runs no schema-inference job.

Scale notes (100 TB):
- The log is tiny (one small JSON per commit) regardless of table size;
  readers list one directory and read one file before any data I/O.
- Nothing is deleted at commit time, so concurrent readers of older
  snapshots never break.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG_DIR = "_log"
_DATA_DIR = "data"
_MANIFEST_WIDTH = 20


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the version this writer raced for."""


def _manifest_name(version: int) -> str:
    return f"{version:0{_MANIFEST_WIDTH}d}.json"


class SnapshotTable:
    """A versioned parquet table rooted at ``path`` (see module docstring)."""

    def __init__(self, path: str) -> None:
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, _LOG_DIR)

    # ------------------------------------------------------------- log I/O
    def latest_version(self) -> int | None:
        if not os.path.isdir(self.log_dir):
            return None
        versions = [
            int(stem)
            for stem, ext in map(os.path.splitext, os.listdir(self.log_dir))
            if ext == ".json" and stem.isdigit()
        ]
        return max(versions, default=None)

    def _read_manifest(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, _manifest_name(version))) as fh:
            return json.load(fh)

    def _commit(self, version: int, manifest: dict) -> None:
        """Atomically claim ``version``: full temp write + fsync, then a
        hard link to the final name (atomic, fails-if-exists)."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f"_tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, os.path.join(self.log_dir, _manifest_name(version)))
        except FileExistsError:
            raise ConcurrentWriteError(
                f"version {version} of {self.path} was committed by another writer"
            ) from None
        finally:
            os.unlink(tmp)

    # --------------------------------------------------------------- write
    def _write_data(self, df: DataFrame, version: int) -> str:
        rel = f"{_DATA_DIR}/v{version}-{uuid.uuid4().hex[:8]}"
        df.write.mode("error").parquet(os.path.join(self.path, rel))
        return rel

    def write(self, df: DataFrame) -> int:
        """Commit ``df`` as the next version, replacing the file set; every
        earlier version stays readable by time travel."""
        parent = self.latest_version()  # pinned — never re-fetched
        version = 0 if parent is None else parent + 1
        rel = self._write_data(df, version)
        self._commit(version, {
            "version": version,
            "parent": parent,
            "files": [rel],
            "schema": json.loads(df.schema.json()),
        })
        return version

    # ---------------------------------------------------------------- read
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read.  ``version=None`` → latest; an explicit version is
        a time-travel read.  The manifest's schema, not the files', is
        applied (the log owns the schema — Delta's rule), so no
        schema-inference job runs."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"{self.path} has no committed version")
        manifest = self._read_manifest(latest if version is None else version)
        paths = [os.path.join(self.path, rel) for rel in manifest["files"]]
        return spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(*paths)

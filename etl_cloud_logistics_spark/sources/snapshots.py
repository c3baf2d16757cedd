"""Versioned lake table with a transaction log — the production-shaped
storage path for the versioned outputs (the ANN index, the dedup signature
store; SURVEY.md §2.1, §4).

The reference leans on warehouse-native table services: Snowflake Time
Travel / zero-copy clones (``scripts/04_dimensional_model.sql:162-168``).
Spark has no built-in versioned table, so this module implements the
public transaction-log design (Delta Lake, VLDB 2020; Apache Iceberg spec)
over plain parquet, cut to the lifecycle the pipelines use: write a
version (overwrite or append), read the latest, time-travel to an older
one:

    table_dir/
      _log/00000000000000000000.json   one manifest per committed version
      data/v0-<op>/part-*.parquet      immutable data directories

- A manifest names the data directories composing that version, plus
  bookkeeping (operation, parent).  Committed data is never mutated, so a
  reader that has picked a manifest sees an immutable snapshot — reads are
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
  targets ``parent + 1``, so a commit that interleaves between "read the
  parent's file set" and "commit" collides on the slot-claim — an append
  can never silently drop a racer's rows.
- The LOG owns the table schema (Delta's rule): every manifest records the
  version's full schema, readers apply it by name over the data files, and
  evolution is ADDITIVE — an append whose frame carries new columns
  appends them (files committed earlier read them as NULL, no rewrite); a
  type change to an existing column raises ``SchemaEvolutionError``.

Scale notes (100 TB):
- The log is tiny (one small JSON per commit) regardless of table size;
  readers list one directory and read one file before any data I/O.
- ``mode="append"`` adds a data directory without reading or touching
  existing files, so an incremental commit costs O(delta).
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


class SchemaEvolutionError(ValueError):
    """An incoming schema changes the type of an existing column."""


def _nullable(schema: StructType) -> StructType:
    """All top-level fields nullable: after evolution, files committed
    before a column existed read that column as NULL, so the table-level
    contract for every column is nullable."""
    out = StructType()
    for f in schema.fields:
        out = out.add(f.name, f.dataType, True)
    return out


def _merge_schemas(parent: StructType | None, new: StructType) -> StructType:
    """Additive schema evolution (the Delta/Iceberg rule): parent columns
    keep their position and type; columns new in ``new`` append at the end;
    a type CHANGE to an existing column raises — rewriting history is a
    different operation than evolving forward."""
    if parent is None:
        return _nullable(new)
    merged = _nullable(parent)
    by_name = {f.name: f for f in merged.fields}
    for f in new.fields:
        have = by_name.get(f.name)
        if have is None:
            merged = merged.add(f.name, f.dataType, True)
        elif have.dataType != f.dataType:
            raise SchemaEvolutionError(
                f"column {f.name!r}: {have.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} is a type change, not an evolution"
            )
    return merged


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
    def _write_data(self, df: DataFrame, version: int, operation: str) -> str:
        rel = f"{_DATA_DIR}/v{version}-{operation}-{uuid.uuid4().hex[:8]}"
        df.write.mode("error").parquet(os.path.join(self.path, rel))
        return rel

    def write(
        self, df: DataFrame, mode: str = "overwrite", operation: str | None = None
    ) -> int:
        """Commit ``df`` as the next version.  ``overwrite`` replaces the
        file set; ``append`` adds a data directory and keeps the prior ones
        (no existing file is read or touched), evolving the schema
        additively."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        parent = self.latest_version()  # pinned — never re-fetched
        version = 0 if parent is None else parent + 1
        files = []
        parent_schema: StructType | None = None
        if mode == "append" and parent is not None:
            manifest = self._read_manifest(parent)
            files = list(manifest["files"])
            parent_schema = StructType.fromJson(manifest["schema"])
        schema = _merge_schemas(parent_schema, df.schema)
        files.append(self._write_data(df, version, operation or mode))
        self._commit(version, {
            "version": version,
            "parent": parent,
            "operation": operation or mode,
            "files": files,
            "schema": json.loads(schema.json()),
        })
        return version

    # ---------------------------------------------------------------- read
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read.  ``version=None`` → latest; an explicit version is
        a time-travel read.  The manifest's schema, not the files', is
        applied (the log owns the schema — Delta's rule), so a file
        committed before a column was added reads it as NULL."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"{self.path} has no committed version")
        manifest = self._read_manifest(latest if version is None else version)
        paths = [os.path.join(self.path, rel) for rel in manifest["files"]]
        return spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(*paths)

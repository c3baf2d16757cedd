"""Versioned lake table with a transaction log — the production-shaped
storage path for the keyed sinks (SURVEY.md §2.1 S4/S6/S8, §4).

The reference leans on warehouse-native table services: Snowflake Time
Travel / zero-copy clones (``scripts/04_dimensional_model.sql:162-168``)
and DynamoDB point upserts (``scripts/07_lambda_functions.py:108-120``).  Spark has no
built-in versioned table, so this module implements the public
transaction-log design (Delta Lake, VLDB 2020; Apache Iceberg spec) over
plain parquet:

    table_dir/
      _log/00000000000000000000.json   one manifest per committed version
      data/v0-<op>/part-*.parquet      immutable data directories

- A manifest names the data directories composing that version, plus
  bookkeeping (operation, parent).  Committed data is never mutated, so a
  reader that has picked a manifest sees an immutable snapshot — reads are
  snapshot-isolated with no locks, and any historical version stays
  readable until vacuumed (time travel).
- Commit protocol: the manifest is fully written to a temp name (+fsync),
  then ``os.link``-ed to its final version-numbered name.  ``link`` is
  atomic and FAILS if the destination exists, which is the optimistic
  concurrency check — two writers racing to the same version cannot both
  win; the loser raises ``ConcurrentWriteError`` and must rebase.  This is
  exactly Delta's "mutual exclusion on log-record creation" (paper §3.2),
  expressed with local-fs primitives; on S3 the same slot-claim runs via a
  conditional PUT / DynamoDB lock table.
- MERGE is FILE-LEVEL copy-on-write (the Delta design: per-file column
  stats decide which files a merge must touch).  The manifest carries
  min/max key stats per data directory, read from the parquet footers at
  write time (no data scan).  A merge computes the updates' key range,
  splits the parent's file set into directories whose key range is
  provably disjoint from the updates (carried into the new version
  UNTOUCHED) and directories that may contain matched keys (read, resolved
  last-writer-wins per key with one ``max_by`` hash-agg — no window sort —
  and rewritten as one new directory).  A crash anywhere before the final
  link leaves the previous version intact and visible.
- The parent version is pinned ONCE at the start of a merge; the snapshot
  is read at that pinned version and the commit targets ``parent + 1``, so
  any commit that interleaves collides on the ``os.link`` slot-claim and
  raises ``ConcurrentWriteError`` — the lost-update window between "read
  snapshot" and "pick version" is closed by construction.
- The LOG owns the table schema (Delta's rule): every manifest records the
  version's full schema, readers apply it by name over the data files, and
  evolution is ADDITIVE — a merge/append whose frame carries new columns
  appends them (files committed earlier read them as NULL, no rewrite); a
  type change to an existing column raises ``SchemaEvolutionError``.
  Update rows that omit an old column set it NULL for the keys they win —
  whole-row last-writer-wins, the row model of this sink.

Scale notes (100 TB):
- The log is tiny (one small JSON per commit) regardless of table size;
  readers list one directory and read one file before any data I/O.
- File-level CoW means merge cost scales with the updated key range, not
  the table: a point update on a table laid out by key touches one data
  directory and references the rest.  The fact path appends instead
  (``mode="append"`` adds a data dir without touching existing files).
- File skipping assumes the keyed-table invariant (one row per key across
  the snapshot) that ``merge`` itself maintains; ``mode="append"`` writes
  that duplicate existing keys break it, so keyed tables must be built via
  ``merge`` (or appends of provably-new keys), same contract as ``upsert``.
- ``vacuum`` unreferences old versions explicitly; nothing is deleted at
  commit time, so concurrent readers of older snapshots never break.  Data
  sweeps honor a retention age so an in-flight writer's not-yet-committed
  directory (which looks unreferenced) is never swept mid-commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .upsert import _merge_latest

_LOG_DIR = "_log"
_DATA_DIR = "data"
_MANIFEST_WIDTH = 20
# stats are kept only for types that JSON-round-trip and compare cleanly
# across the footer/JSON/py4j boundary; anything else simply gets no stats
# for that column, which degrades to "always rewrite" — safe, never wrong
_STATS_TYPES = (int, float, str)


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


def _schema_of(manifest: dict) -> StructType | None:
    raw = manifest.get("schema")
    return StructType.fromJson(raw) if raw else None


def _collect_stats(
    path: str, cols: list[str]
) -> tuple[dict[str, list] | None, dict[str, dict] | None]:
    """Min/max of ``cols`` from the parquet row-group footers alone — no
    data scan, the same metadata a Delta writer records in its add-file
    actions.  Returns (directory-level ranges, per-file ranges); both are
    None when any column is absent, has no footer stats, or is of a type
    that does not JSON-round-trip safely (then nothing is ever skipped —
    degrades to a full read, never wrong).  Per-file ranges are what
    ``read_pruned`` skips individual files with; the directory envelope is
    what ``merge`` decides rewrites with."""
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    per_file: dict[str, dict] = {}
    try:
        names = [n for n in os.listdir(path) if n.endswith(".parquet")]
    except OSError:
        return None, None
    for name in names:
        meta = pq.ParquetFile(os.path.join(path, name)).metadata
        col_idx = {meta.schema.column(i).path: i for i in range(meta.num_columns)}
        fmins: dict[str, object] = {}
        fmaxs: dict[str, object] = {}
        for c in cols:
            idx = col_idx.get(c)
            if idx is None:
                return None, None
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None, None
                lo, hi = st.min, st.max
                if not isinstance(lo, _STATS_TYPES) or isinstance(lo, bool):
                    return None, None
                fmins[c] = lo if c not in fmins else min(fmins[c], lo)
                fmaxs[c] = hi if c not in fmaxs else max(fmaxs[c], hi)
                mins[c] = lo if c not in mins else min(mins[c], lo)
                maxs[c] = hi if c not in maxs else max(maxs[c], hi)
        if len(fmins) == len(cols):
            per_file[name] = {c: [fmins[c], fmaxs[c]] for c in cols}
    if len(mins) != len(cols):
        return None, None  # no row groups at all, or a column never appeared
    return {c: [mins[c], maxs[c]] for c in cols}, per_file


def _dir_stats(path: str, cols: list[str]) -> dict[str, list] | None:
    return _collect_stats(path, cols)[0]


def _ranges_disjoint(file_stats: dict[str, list], bounds: dict[str, tuple]) -> bool:
    """True when the file's key ranges prove it cannot contain any bounded
    key: for composite keys it is enough that ONE key column's ranges are
    disjoint (a matching key must agree on every column).  A ``None`` end
    is unbounded on that side (half-open ranges from ``read_pruned``; a
    merge envelope from an empty/all-null update is ``(None, None)``,
    which constrains nothing — every directory rewrites, never wrong)."""
    for c, (lo, hi) in bounds.items():
        s = file_stats.get(c)
        if s is None:
            continue
        if (lo is not None and s[1] < lo) or (hi is not None and s[0] > hi):
            return True
    return False


class SnapshotTable:
    """A versioned parquet table rooted at ``path`` (see module docstring)."""

    def __init__(self, path: str) -> None:
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, _LOG_DIR)
        self.data_dir = os.path.join(self.path, _DATA_DIR)

    # ------------------------------------------------------------- log I/O
    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            stem, ext = os.path.splitext(name)
            if ext == ".json" and stem.isdigit():
                out.append(int(stem))
        return sorted(out)

    def latest_version(self) -> int | None:
        versions = self._versions()
        return versions[-1] if versions else None

    def _read_manifest(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, _manifest_name(version))) as fh:
            return json.load(fh)

    def _read_files(
        self, spark: SparkSession, manifest: dict, paths: list[str]
    ) -> DataFrame:
        """Read data paths under the manifest's recorded table schema (the
        log, not the files, owns the schema — Delta's rule): a file
        committed before a column was added simply reads it as NULL, which
        is what makes additive evolution work without rewriting history.
        Manifests from before schema tracking fall back to footer
        inference."""
        schema = _schema_of(manifest)
        if schema is not None:
            return spark.read.schema(schema).parquet(*paths)
        return spark.read.parquet(*paths)

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
        self,
        df: DataFrame,
        mode: str = "overwrite",
        operation: str | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Commit ``df`` as the next version.  ``overwrite`` replaces the
        file set; ``append`` adds a data directory and keeps the prior ones
        (the fact-table path: no existing file is read or touched).
        ``stats_cols`` records min/max footer stats for those columns in the
        manifest at both directory granularity (what ``merge`` skips whole
        directories with) and per-file granularity (what ``read_pruned``
        skips individual files with); pass the table's key columns."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        parent = self.latest_version()
        version = 0 if parent is None else parent + 1
        files = []
        stats: dict[str, dict] = {}
        fstats: dict[str, dict] = {}
        parent_schema: StructType | None = None
        if mode == "append" and parent is not None:
            manifest = self._read_manifest(parent)
            files = list(manifest["files"])
            stats = dict(manifest.get("stats", {}))
            fstats = dict(manifest.get("file_stats", {}))
            parent_schema = _schema_of(manifest)
        schema = _merge_schemas(parent_schema, df.schema)
        rel = self._write_data(df, version, operation or mode)
        files.append(rel)
        if stats_cols:
            dstat, per_file = _collect_stats(os.path.join(self.path, rel), stats_cols)
            if dstat:
                stats[rel] = dstat
            if per_file:
                fstats[rel] = per_file
        self._commit(version, {
            "version": version,
            "parent": parent,
            "operation": operation or mode,
            "files": files,
            "stats": stats,
            "file_stats": fstats,
            "schema": json.loads(schema.json()),
        })
        return version

    # ---------------------------------------------------------------- read
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read.  ``version=None`` → latest; an explicit version is
        a time-travel read and stays valid until that version is vacuumed."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"{self.path} has no committed version")
        pick = latest if version is None else version
        manifest = self._read_manifest(pick)
        paths = [os.path.join(self.path, rel) for rel in manifest["files"]]
        return self._read_files(spark, manifest, paths)

    def read_pruned(
        self,
        spark: SparkSession,
        bounds: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Snapshot read with manifest-stats data skipping: data directories
        whose recorded min/max ranges are provably disjoint from ``bounds``
        (``{col: (lo, hi)}``, either end ``None`` = unbounded) are never
        opened — the same add-file-stats pruning a Delta/Iceberg reader does
        before Spark's own row-group pruning gets a say.

        Correctness never depends on the pruning: the bounds are re-applied
        as an ordinary residual ``filter`` on the surviving files (which
        Spark pushes into the parquet scan), so a directory with missing or
        stale stats merely reads more data.  Point-lookup and key-range
        queries over a keyed state table touch O(matching files), not
        O(table).

        Skipping runs at two granularities: whole directories via their
        stats envelope, then individual parquet files inside a surviving
        directory via the per-file ranges the writer recorded (tight when
        the table was laid out with ``compact(cluster_by=...)``).  A
        directory with no per-file entry reads whole — degrade, never
        wrong."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"{self.path} has no committed version")
        pick = latest if version is None else version
        manifest = self._read_manifest(pick)
        dir_stats: dict[str, dict] = manifest.get("stats", {})
        per_file: dict[str, dict] = manifest.get("file_stats", {})
        keep = [
            rel
            for rel in manifest["files"]
            if not (rel in dir_stats and _ranges_disjoint(dir_stats[rel], bounds))
        ]
        paths: list[str] = []
        for rel in keep:
            fstats = per_file.get(rel)
            if fstats:
                # the writer's per-file entry covers every parquet file in
                # the (immutable) directory, so reading only the surviving
                # file paths loses no rows
                paths.extend(
                    os.path.join(self.path, rel, name)
                    for name, st in sorted(fstats.items())
                    if not _ranges_disjoint(st, bounds)
                )
            else:
                paths.append(os.path.join(self.path, rel))
        if paths:
            df = self._read_files(spark, manifest, paths)
        else:
            # every file pruned: preserve the schema, produce no rows
            first = os.path.join(self.path, manifest["files"][0])
            df = self._read_files(spark, manifest, [first]).filter(F.lit(False))
        for c, (lo, hi) in bounds.items():
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(c) <= F.lit(hi))
        return df

    def compact(
        self,
        spark: SparkSession,
        min_dirs: int = 2,
        target_files: int = 4,
        stats_cols: list[str] | None = None,
        cluster_by: list[str] | None = None,
        where: dict[str, tuple] | None = None,
    ) -> int | None:
        """Small-file compaction: rewrite the current version's data
        directories into one and commit the identical logical content as a
        new version (operation ``compact``).  The streaming-merge path
        produces one directory per micro-batch; left alone, every read pays
        per-file open/footer costs that grow without bound — the classic
        lakehouse small-file problem.  Pre-compaction versions still
        time-travel (their manifests and directories are untouched until
        ``vacuum`` retires them).

        No-op (returns None) when fewer than ``min_dirs`` directories exist
        (``cluster_by`` lowers the bar to 1: re-clustering a single
        directory is useful work).  ``stats_cols`` defaults to the columns
        already tracked in the manifest stats, plus ``cluster_by``, so
        file-skipping keeps working across compaction.

        ``cluster_by`` rewrites through ``layout.cluster_by_zorder``: each
        output file covers one compact Morton-key range, so its recorded
        per-file min/max is tight on EVERY clustering column and
        ``read_pruned`` skips at file granularity on any of them — the
        warehouse-native micro-partition clustering of the reference
        (Snowflake, ``scripts/04_dimensional_model.sql:162-168``) rebuilt
        from parquet footers + the manifest.  OCC: the parent is pinned
        once; a racing commit collides on the log slot and raises
        ``ConcurrentWriteError``.

        ``where`` (``{col: (lo, hi)}``, either end ``None`` = unbounded)
        scopes the rewrite (Delta's ``OPTIMIZE ... WHERE``): only data
        directories whose recorded stats INTERSECT the bounds are rewritten;
        provably-disjoint directories carry into the new version untouched,
        stats and all.  At 100 TB compaction always runs scoped — the
        streaming merge fragments only the recent key range, so that is the
        only range worth rewriting; a directory without stats counts as
        intersecting (rewritten — degrade, never wrong)."""
        parent = self.latest_version()
        if parent is None:
            return None
        manifest = self._read_manifest(parent)  # pinned — never re-fetched
        dir_stats: dict[str, dict] = manifest.get("stats", {})
        if where:
            kept_dirs = [
                rel for rel in manifest["files"]
                if rel in dir_stats and _ranges_disjoint(dir_stats[rel], where)
            ]
        else:
            kept_dirs = []
        rewrite_dirs = [rel for rel in manifest["files"] if rel not in kept_dirs]
        if len(rewrite_dirs) < (1 if cluster_by else min_dirs):
            return None
        if stats_cols is None:
            cols: set[str] = set()
            for dstat in dir_stats.values():
                cols.update(dstat)
            stats_cols = sorted(cols)
        if cluster_by:
            stats_cols = sorted(set(stats_cols) | set(cluster_by))
        df = self._read_files(
            spark, manifest,
            [os.path.join(self.path, rel) for rel in rewrite_dirs],
        )
        if cluster_by:
            from .layout import cluster_by_zorder

            df = cluster_by_zorder(df, cluster_by, target_files)
        else:
            df = df.repartition(target_files)
        version = parent + 1
        rel = self._write_data(df, version, "compact")
        parent_fstats: dict[str, dict] = manifest.get("file_stats", {})
        stats = {r: dir_stats[r] for r in kept_dirs}
        fstats = {r: parent_fstats[r] for r in kept_dirs if r in parent_fstats}
        if stats_cols:
            dstat, per_file = _collect_stats(os.path.join(self.path, rel), stats_cols)
            if dstat:
                stats[rel] = dstat
            if per_file:
                fstats[rel] = per_file
        self._commit(version, {
            "version": version,
            "parent": parent,
            "operation": "compact",
            "files": kept_dirs + [rel],
            "stats": stats,
            "file_stats": fstats,
            "schema": manifest.get("schema") or json.loads(_nullable(df.schema).json()),
        })
        return version

    def diff(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level diff between two committed versions: each row of the
        symmetric difference tagged ``change`` = 'added' (present only in
        ``to_version``) or 'removed' (present only in ``from_version``) —
        the audit view of time travel (what did that MERGE actually do?)
        and the input to downstream incremental consumers that want a
        changelog for a table that wasn't written through one.

        Multiset semantics via ``exceptAll`` (duplicates diff by count, so
        a row going 3x -> 1x reports two removals).  Scale shape: the two
        snapshot reads prune to their manifests' files; exceptAll is one
        hash-partitioned anti-style shuffle per direction — no collect, no
        full-table comparison on the driver.  For CoW MERGE commits most
        files are shared between versions byte-identically; a file-level
        pre-prune (diffing only non-shared files) would cut the scan
        further and composes with this row-level form."""
        old = self.read(spark, from_version)
        new = self.read(spark, to_version)
        if "change" in new.columns:
            raise ValueError(
                "table has a 'change' column — diff() would overwrite it; "
                "rename the data column or diff a projection"
            )
        if old.columns != new.columns:
            # schema evolution: align BOTH sides on the union schema, so an
            # added column reads as NULL on the elder side AND a removed
            # column reads as NULL on the newer side.  Selecting only
            # new.columns here would silently drop old-only columns — rows
            # differing only in a removed column would then compare equal, a
            # blind spot for the audit view of time travel.
            for c in new.columns:
                if c not in old.columns:
                    old = old.withColumn(c, F.lit(None).cast(new.schema[c].dataType))
            for c in old.columns:
                if c not in new.columns:
                    new = new.withColumn(c, F.lit(None).cast(old.schema[c].dataType))
            union_cols = new.columns + [
                c for c in old.columns if c not in new.columns
            ]
            old = old.select(union_cols)
            new = new.select(union_cols)
        added = new.exceptAll(old).withColumn("change", F.lit("added"))
        removed = old.exceptAll(new).withColumn("change", F.lit("removed"))
        return added.unionByName(removed)

    def history(self) -> list[dict]:
        """All committed manifests, oldest first (operation, parent, files)."""
        return [self._read_manifest(v) for v in self._versions()]

    # --------------------------------------------------------------- merge
    def merge(
        self,
        spark: SparkSession,
        updates: DataFrame,
        keys: list[str],
        version_col: str,
        retries: int = 0,
    ) -> int:
        """File-level copy-on-write MERGE: last-writer-wins-by-
        ``version_col`` per key (same resolution as
        ``upsert.upsert_parquet``), committed as a new version.

        The parent version is pinned ONCE up front and the commit targets
        ``parent + 1``, so a commit that interleaves between our snapshot
        read and our commit collides on the log slot and raises
        ``ConcurrentWriteError`` — no lost update is possible.  Retries are
        safe: nothing becomes visible before the final link, and an
        orphaned data directory is swept by ``vacuum`` once old enough.
        ``retries`` > 0 REBASES automatically on collision (the Delta-writer
        loop): re-pin the new latest version and redo the merge — correct
        because MERGE commutes with any interleaved commit under per-key
        last-writer-wins resolution; after ``retries`` rebases the final
        ``ConcurrentWriteError`` propagates.

        Parent data directories whose manifest key stats prove they cannot
        contain any updated key are carried into the new version untouched
        (no read, no write); only potentially-matching directories are read,
        resolved against ``updates`` with one ``max_by`` hash-agg, and
        rewritten as a single new directory whose stats are recorded in
        turn.  Requires the keyed-table invariant (module docstring)."""
        for _ in range(retries):
            try:
                return self.merge(spark, updates, keys, version_col, retries=0)
            except ConcurrentWriteError:
                continue  # rebase: the next attempt re-pins the new latest
        parent = self.latest_version()
        if parent is None:
            merged = _merge_latest(None, updates, keys, version_col)
            rel = self._write_data(merged, 0, "merge")
            stats: dict[str, dict] = {}
            fstats: dict[str, dict] = {}
            dstat, per_file = _collect_stats(os.path.join(self.path, rel), keys)
            if dstat:
                stats[rel] = dstat
            if per_file:
                fstats[rel] = per_file
            self._commit(0, {
                "version": 0, "parent": None, "operation": "merge",
                "files": [rel], "stats": stats, "file_stats": fstats,
                "schema": json.loads(_nullable(merged.schema).json()),
            })
            return 0
        manifest = self._read_manifest(parent)  # pinned — never re-fetched
        file_stats: dict[str, dict] = manifest.get("stats", {})
        # the updates' key envelope, one tiny agg job; None bounds (empty or
        # all-null keys) prove nothing, so every directory gets rewritten
        row = updates.agg(
            *[F.min(k).alias(f"__lo_{k}") for k in keys],
            *[F.max(k).alias(f"__hi_{k}") for k in keys],
        ).first()
        bounds = {k: (row[f"__lo_{k}"], row[f"__hi_{k}"]) for k in keys}
        kept = [
            rel for rel in manifest["files"]
            if rel in file_stats and _ranges_disjoint(file_stats[rel], bounds)
        ]
        rewrite = [rel for rel in manifest["files"] if rel not in kept]
        # rewrite dirs read under the PARENT's recorded schema, so files
        # predating an earlier evolution present their missing columns as
        # NULL before this merge's own evolution applies on top
        existing = (
            self._read_files(
                spark, manifest,
                [os.path.join(self.path, rel) for rel in rewrite],
            )
            if rewrite else None
        )
        merged = _merge_latest(existing, updates, keys, version_col)
        # additive evolution validated against the parent schema (a type
        # change raises before anything is written).  The committed schema
        # is parent-columns-first plus appended new columns — computed from
        # the PARENT manifest, not merged.schema alone, because when every
        # parent directory is key-disjoint (kept) the merged frame is just
        # the updates and would otherwise drop parent-only columns
        parent_schema = _schema_of(manifest)
        if parent_schema is None and manifest["files"]:
            # pre-schema-tracking manifest: recover the parent schema from
            # the parquet footers (driver-side metadata read only)
            parent_schema = spark.read.parquet(
                *[os.path.join(self.path, r) for r in manifest["files"]]
            ).schema
        schema = _merge_schemas(parent_schema, merged.schema)
        version = parent + 1
        rel = self._write_data(merged, version, "merge")
        parent_fstats: dict[str, dict] = manifest.get("file_stats", {})
        stats = {r: file_stats[r] for r in kept}
        fstats = {r: parent_fstats[r] for r in kept if r in parent_fstats}
        dstat, per_file = _collect_stats(os.path.join(self.path, rel), keys)
        if dstat:
            stats[rel] = dstat
        if per_file:
            fstats[rel] = per_file
        self._commit(version, {
            "version": version,
            "parent": parent,
            "operation": "merge",
            "files": kept + [rel],
            "stats": stats,
            "file_stats": fstats,
            "schema": json.loads(schema.json()),
        })
        return version

    def restore(self, version: int) -> int:
        """Roll back by committing a NEW version that points at an old
        version's file set — no data is copied or deleted, and the rolled-
        back-over versions remain in history (Delta's RESTORE semantics)."""
        manifest = self._read_manifest(version)
        parent = self.latest_version()
        new_version = (parent or 0) + 1
        self._commit(new_version, {
            "version": new_version,
            "parent": parent,
            "operation": f"restore-v{version}",
            "files": list(manifest["files"]),
            "stats": dict(manifest.get("stats", {})),
            "file_stats": dict(manifest.get("file_stats", {})),
            "schema": manifest.get("schema"),
        })
        return new_version

    # -------------------------------------------------------------- vacuum
    def vacuum(self, keep_last: int = 2, retention_seconds: float = 3600.0) -> list[str]:
        """Drop manifests older than the last ``keep_last`` versions and
        delete data directories no retained version references (including
        orphans from crashed/lost-race writers).  Returns removed paths.

        An unreferenced directory is swept only once its mtime is older
        than ``retention_seconds``: a writer that is between ``_write_data``
        and ``_commit`` (a full Spark job wide) is indistinguishable from
        crash debris by reference-counting alone, so a freshly written
        directory must survive the sweep or its commit would point at
        deleted files (the same reasoning behind Delta's 7-day default).
        Set the retention above any plausible writer job duration; 0 is
        for single-process tests only."""
        versions = self._versions()
        keep = versions[-keep_last:] if keep_last > 0 else versions
        referenced = set()
        for v in keep:
            referenced.update(self._read_manifest(v)["files"])
        removed = []
        for v in versions:
            if v not in keep:
                os.unlink(os.path.join(self.log_dir, _manifest_name(v)))
        cutoff = time.time() - retention_seconds
        if os.path.isdir(self.data_dir):
            for name in sorted(os.listdir(self.data_dir)):
                rel = f"{_DATA_DIR}/{name}"
                full = os.path.join(self.path, rel)
                if rel not in referenced and os.path.getmtime(full) <= cutoff:
                    shutil.rmtree(full)
                    removed.append(rel)
        return removed

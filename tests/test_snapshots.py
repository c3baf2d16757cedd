"""Versioned lake table (sources/snapshots.py): transaction-log commits,
snapshot isolation, time travel, copy-on-write MERGE, restore, vacuum,
optimistic-concurrency conflict detection."""

from __future__ import annotations

import json
import os

import pytest

from etl_cloud_logistics_spark.sources.snapshots import (
    ConcurrentWriteError,
    SnapshotTable,
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _mk(spark, data):
    return spark.createDataFrame(data, "k int, val string, version int")


def test_write_read_roundtrip_and_versions(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.latest_version() is None
    v0 = t.write(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    assert v0 == 0
    v1 = t.write(_mk(spark, [(3, "c", 2)]), mode="append")
    assert v1 == 1
    assert _rows(t.read(spark), "k", "val") == [(1, "a"), (2, "b"), (3, "c")]
    # time travel: v0 unchanged by the append
    assert _rows(t.read(spark, version=0), "k", "val") == [(1, "a"), (2, "b")]
    ops = [m["operation"] for m in t.history()]
    assert ops == ["overwrite", "append"]


def test_merge_is_copy_on_write_with_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1), (2, "b", 1)]))
    t.merge(spark, _mk(spark, [(2, "B", 5), (3, "c", 5)]), keys=["k"], version_col="version")
    assert _rows(t.read(spark), "k", "val") == [(1, "a"), (2, "B"), (3, "c")]
    # stale update loses: version 3 < current winner 5
    t.merge(spark, _mk(spark, [(2, "stale", 3)]), keys=["k"], version_col="version")
    assert _rows(t.read(spark), "k", "val") == [(1, "a"), (2, "B"), (3, "c")]
    # every pre-merge snapshot still readable byte-for-byte
    assert _rows(t.read(spark, version=0), "k", "val") == [(1, "a"), (2, "b")]


def test_restore_commits_forward_without_copying(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    t.write(_mk(spark, [(9, "z", 9)]))  # v1: bad overwrite
    v2 = t.restore(0)
    assert v2 == 2
    assert _rows(t.read(spark), "k", "val") == [(1, "a")]
    # restore shares v0's files — no new data directory was written
    assert t._read_manifest(2)["files"] == t._read_manifest(0)["files"]
    # the rolled-back-over version is still in history and readable
    assert _rows(t.read(spark, version=1), "k", "val") == [(9, "z")]


def test_commit_conflict_raises_and_leaves_table_intact(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    # a racing writer claims version 1 between our read and our commit
    racer = SnapshotTable(t.path)
    racer._commit(1, {"version": 1, "parent": 0, "operation": "race", "files": t._read_manifest(0)["files"]})
    with pytest.raises(ConcurrentWriteError):
        t._commit(1, {"version": 1, "parent": 0, "operation": "lost", "files": []})
    # the winner's manifest is untouched
    assert t._read_manifest(1)["operation"] == "race"
    # rebase-and-retry path: merge now lands on version 2
    assert t.merge(spark, _mk(spark, [(2, "b", 2)]), keys=["k"], version_col="version") == 2


def test_crash_debris_is_invisible_to_readers(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    # simulate a writer that died after writing data but before commit:
    # an orphan data dir and a temp manifest
    _mk(spark, [(99, "ghost", 9)]).write.parquet(os.path.join(t.data_dir, "v1-merge-deadbeef"))
    with open(os.path.join(t.log_dir, "_tmp-deadbeef.json"), "w") as fh:
        json.dump({"version": 1}, fh)
    assert t.latest_version() == 0
    assert _rows(t.read(spark), "k", "val") == [(1, "a")]
    # default retention protects the fresh orphan: it is indistinguishable
    # from an in-flight writer that has not committed yet
    assert t.vacuum(keep_last=1) == []
    # past the retention age it is genuine debris and gets swept
    removed = t.vacuum(keep_last=1, retention_seconds=0)
    assert any("deadbeef" in r for r in removed)


def test_vacuum_drops_old_versions_keeps_retained(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    t.merge(spark, _mk(spark, [(2, "b", 2)]), keys=["k"], version_col="version")
    t.merge(spark, _mk(spark, [(3, "c", 3)]), keys=["k"], version_col="version")
    removed = t.vacuum(keep_last=2, retention_seconds=0)
    assert removed  # v0's data dir went away
    assert t._versions() == [1, 2]
    assert _rows(t.read(spark, version=1), "k", "val") == [(1, "a"), (2, "b")]
    assert _rows(t.read(spark), "k", "val") == [(1, "a"), (2, "b"), (3, "c")]
    with pytest.raises(FileNotFoundError):
        t._read_manifest(0)


def _dir_file_hashes(root):
    import hashlib

    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            p = os.path.join(dirpath, name)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_merge_skips_key_disjoint_files_byte_identical(spark, tmp_path):
    """File-level CoW: a merge whose update key range is provably disjoint
    from a data directory's footer stats carries that directory into the
    new version untouched — byte-identical on disk, not rewritten."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1), (2, "b", 1)]), stats_cols=["k"])
    t.write(_mk(spark, [(10, "x", 1), (11, "y", 1)]), mode="append", stats_cols=["k"])
    files_before = t._read_manifest(1)["files"]
    low_rel, high_rel = files_before
    low_dir = os.path.join(t.path, low_rel)
    low_bytes_before = _dir_file_hashes(low_dir)
    # update touches only the high key range [10, 11]
    t.merge(spark, _mk(spark, [(11, "Y", 2)]), keys=["k"], version_col="version")
    m = t._read_manifest(2)
    assert low_rel in m["files"], "disjoint directory must be carried over"
    assert high_rel not in m["files"], "overlapping directory must be rewritten"
    assert _dir_file_hashes(low_dir) == low_bytes_before
    # the carried-over directory keeps its stats for the NEXT merge
    assert m["stats"][low_rel]["k"] == [1, 2]
    assert _rows(t.read(spark), "k", "val") == [(1, "a"), (2, "b"), (10, "x"), (11, "Y")]
    # time travel across a file-skipping merge still works
    assert _rows(t.read(spark, version=1), "k", "val") == [(1, "a"), (2, "b"), (10, "x"), (11, "y")]


def test_merge_without_stats_rewrites_and_stays_correct(spark, tmp_path):
    """Directories written without stats_cols can never be skipped — merge
    degrades to the full rewrite and the result is still exact."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1), (2, "b", 1)]))  # no stats recorded
    t.merge(spark, _mk(spark, [(3, "c", 2)]), keys=["k"], version_col="version")
    m = t._read_manifest(1)
    assert len(m["files"]) == 1  # everything rewritten into one directory
    assert _rows(t.read(spark), "k", "val") == [(1, "a"), (2, "b"), (3, "c")]


def test_merge_pinned_parent_detects_interleaved_commit(spark, tmp_path):
    """The lost-update race from the round-2 review: a commit landing
    between our snapshot read and our commit must make OUR merge raise
    ConcurrentWriteError (parent is pinned once), never silently drop the
    racer's update."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    racer = SnapshotTable(t.path)
    orig_write_data = t._write_data

    def interleave(df, version, operation):
        rel = orig_write_data(df, version, operation)
        # racer commits while our merge's Spark write job is "running"
        racer.merge(spark, _mk(spark, [(7, "r", 7)]), keys=["k"], version_col="version")
        return rel

    t._write_data = interleave
    with pytest.raises(ConcurrentWriteError):
        t.merge(spark, _mk(spark, [(2, "b", 2)]), keys=["k"], version_col="version")
    # the racer's update is the table's latest state — nothing was lost
    assert _rows(t.read(spark), "k", "val") == [(1, "a"), (7, "r")]


def test_foreach_batch_merge_idempotent_replay(spark, tmp_path):
    """Replaying a batch must not change the result: resolution is by
    version_col, so merging the same batch twice equals merging it once."""
    t = SnapshotTable(str(tmp_path / "state"))
    b1 = _mk(spark, [(1, "a", 1), (2, "b", 1)])
    b2 = _mk(spark, [(2, "B", 2)])
    t.merge(spark, b1, keys=["k"], version_col="version")
    t.merge(spark, b2, keys=["k"], version_col="version")
    after = _rows(t.read(spark), "k", "val", "version")
    t.merge(spark, b2, keys=["k"], version_col="version")  # replayed batch
    assert _rows(t.read(spark), "k", "val", "version") == after
    assert after == [(1, "a", 1), (2, "B", 2)]


def test_read_pruned_skips_disjoint_dirs_and_stays_exact(spark, tmp_path):
    """Data skipping: a bounded read opens only directories whose manifest
    stats can intersect the bounds; result equals the full read filtered."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1), (2, "b", 1)]), stats_cols=["k"])
    t.write(_mk(spark, [(10, "x", 1), (11, "y", 1)]), mode="append", stats_cols=["k"])
    pruned = t.read_pruned(spark, {"k": (10, None)})
    # only the high directory's files are opened
    opened = {f for f in pruned.inputFiles()}
    low_rel = t._read_manifest(1)["files"][0]
    assert not any(low_rel in f for f in opened), "disjoint dir was opened"
    assert _rows(pruned, "k", "val") == [(10, "x"), (11, "y")]
    # residual filter still applies inside a surviving directory
    assert _rows(t.read_pruned(spark, {"k": (11, 11)}), "k", "val") == [(11, "y")]


def test_read_pruned_all_pruned_keeps_schema(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]), stats_cols=["k"])
    out = t.read_pruned(spark, {"k": (100, 200)})
    assert out.count() == 0
    assert out.columns == ["k", "val", "version"]


def test_read_pruned_without_stats_degrades_to_filter(spark, tmp_path):
    """No stats recorded -> nothing is skipped, bounds still filter rows."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1), (5, "e", 1)]))  # no stats_cols
    assert _rows(t.read_pruned(spark, {"k": (5, None)}), "k", "val") == [(5, "e")]


def test_compact_rewrites_to_one_dir_same_content(spark, tmp_path):
    """Compaction folds the micro-batch directory sprawl into one directory
    with identical logical content; pre-compaction versions still
    time-travel, and merge file-skipping keeps working off the recomputed
    stats."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]), stats_cols=["k"])
    for i in range(2, 5):
        t.write(_mk(spark, [(i, f"v{i}", 1)]), mode="append", stats_cols=["k"])
    before = _rows(t.read(spark), "k", "val")
    assert len(t._read_manifest(3)["files"]) == 4
    v = t.compact(spark, target_files=1)
    assert v == 4
    m = t._read_manifest(v)
    assert len(m["files"]) == 1
    assert m["operation"] == "compact"
    assert _rows(t.read(spark), "k", "val") == before
    # stats were recomputed for the compacted directory (same cols as before)
    assert m["stats"][m["files"][0]]["k"] == [1, 4]
    # time travel to the pre-compaction sprawl still works
    assert _rows(t.read(spark, version=3), "k", "val") == before
    # compacting a compacted table is a no-op
    assert t.compact(spark) is None


def test_compact_pinned_parent_detects_interleaved_commit(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    t.write(_mk(spark, [(2, "b", 1)]), mode="append")
    # steal the slot compact will target
    t._commit(2, {"version": 2, "parent": 1, "operation": "steal",
                  "files": t._read_manifest(1)["files"], "stats": {}})
    orig = SnapshotTable.latest_version

    def stale(self):
        v = orig(self)
        return 1 if v == 2 else v

    SnapshotTable.latest_version = stale
    try:
        with pytest.raises(ConcurrentWriteError):
            t.compact(spark, target_files=1)
    finally:
        SnapshotTable.latest_version = orig


# ---------------------------------------------------------------- file-level
# skipping + z-order clustering (sources/layout.py)


def test_zorder_key_interleaves_bits(spark):
    """Morton key: bit b of column j lands at position b*n+j — checked
    against a pure-python interleave for a spread of bucket values."""
    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.sources.layout import zorder_key

    def py_morton(a, b):
        out = 0
        for bit in range(16):
            out |= ((a >> bit) & 1) << (bit * 2)
            out |= ((b >> bit) & 1) << (bit * 2 + 1)
        return out

    vals = [(0, 0), (1, 0), (0, 1), (65535, 0), (0, 65535), (12345, 54321)]
    df = spark.createDataFrame(vals, "a long, b long").withColumn(
        "z", zorder_key([F.col("a"), F.col("b")])
    )
    got = {(r.a, r.b): r.z for r in df.collect()}
    assert got == {(a, b): py_morton(a, b) for a, b in vals}


def test_read_pruned_skips_files_inside_a_directory(spark, tmp_path):
    """Per-file manifest stats: a point lookup inside one data directory
    opens only the parquet file whose recorded range matches — file
    granularity, not just directory granularity."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    df = _mk(spark, [(i, f"v{i}", 1) for i in range(30)]).repartitionByRange(3, "k")
    t.write(df, stats_cols=["k"])
    m = t._read_manifest(0)
    rel = m["files"][0]
    assert len(m["file_stats"][rel]) == 3  # every file has a recorded range
    pruned = t.read_pruned(spark, {"k": (4, 4)})
    assert len(pruned.inputFiles()) == 1
    assert _rows(pruned, "k", "val") == [(4, "v4")]


def test_read_pruned_dir_survives_but_all_files_pruned(spark, tmp_path):
    """Bounds inside the directory envelope but between two files' ranges:
    the directory survives dir-level skipping, every file is pruned, and
    the schema-preserving empty path is taken."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    df = _mk(
        spark, [(i, f"v{i}", 1) for i in list(range(0, 11)) + list(range(20, 31))]
    ).repartitionByRange(2, "k")
    t.write(df, stats_cols=["k"])
    out = t.read_pruned(spark, {"k": (12, 18)})
    assert out.count() == 0
    assert out.columns == ["k", "val", "version"]


def test_compact_cluster_by_prunes_on_every_clustered_column(spark, tmp_path):
    """Z-order compaction: after compact(cluster_by=[k1, k2]) a bounded
    read on EITHER column skips files — the multi-column locality a linear
    sort cannot give (it prunes only its leading column)."""
    from etl_cloud_logistics_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    grid = spark.createDataFrame(
        [(a, b, f"c{a}-{b}", 1) for a in range(16) for b in range(16)],
        "k1 int, k2 int, val string, version int",
    )
    t.write(grid.repartition(1), stats_cols=["k1"])
    v = t.compact(spark, target_files=4, cluster_by=["k1", "k2"])
    assert v == 1
    m = t._read_manifest(v)
    rel = m["files"][0]
    assert len(m["file_stats"][rel]) == 4
    full = sorted(tuple(r) for r in t.read(spark).collect())
    for bounds in ({"k1": (0, 3)}, {"k2": (0, 3)}):
        pruned = t.read_pruned(spark, bounds)
        assert len(pruned.inputFiles()) < 4, f"no file skipped for {bounds}"
        col, (lo, hi) = next(iter(bounds.items()))
        want = [r for r in full if lo <= r[0 if col == "k1" else 1] <= hi]
        assert sorted(tuple(r) for r in pruned.collect()) == want


def test_compact_cluster_by_allows_single_directory(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1), (2, "b", 1)]), stats_cols=["k"])
    assert t.compact(spark, target_files=1, cluster_by=["k"]) == 1
    assert t.compact(spark, target_files=1) is None  # plain compact: no-op at 1 dir
    assert _rows(t.read(spark), "k", "val") == [(1, "a"), (2, "b")]


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """A merge whose updates carry a new column evolves the table schema
    additively: kept (key-disjoint, untouched) files read the new column as
    NULL, updated keys carry its values, and time travel to the pre-
    evolution version still shows the old schema."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.merge(spark, _mk(spark, [(1, "a", 1), (2, "b", 1)]), ["k"], "version")
    # second merge on a disjoint key range -> first directory will be kept
    t.merge(spark, _mk(spark, [(100, "x", 1)]), ["k"], "version")
    updates = spark.createDataFrame(
        [(100, "x2", 2, "new")], "k int, val string, version int, tag string"
    )
    v = t.merge(spark, updates, ["k"], "version")
    out = t.read(spark)
    assert set(out.columns) == {"k", "val", "version", "tag"}
    got = {r["k"]: (r["val"], r["tag"]) for r in out.collect()}
    assert got == {1: ("a", None), 2: ("b", None), 100: ("x2", "new")}
    old = t.read(spark, version=v - 1)
    assert "tag" not in old.columns


def test_merge_rejects_type_change(spark, tmp_path):
    from etl_cloud_logistics_spark.sources.snapshots import SchemaEvolutionError

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.merge(spark, _mk(spark, [(1, "a", 1)]), ["k"], "version")
    bad = spark.createDataFrame([(1, 5, 2)], "k int, val int, version int")
    with pytest.raises(SchemaEvolutionError):
        t.merge(spark, bad, ["k"], "version")
    assert t.latest_version() == 0  # nothing committed


def test_merge_update_missing_column_nulls_won_rows(spark, tmp_path):
    """Whole-row last-writer-wins: an update row that omits an existing
    column sets it NULL for the keys it wins; other keys keep their
    values."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.merge(spark, _mk(spark, [(1, "a", 1), (2, "b", 1)]), ["k"], "version")
    slim = spark.createDataFrame([(2, 9)], "k int, version int")
    t.merge(spark, slim, ["k"], "version")
    got = {r["k"]: (r["val"], r["version"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", 1), 2: (None, 9)}


def test_compact_where_rewrites_only_intersecting_dirs(spark, tmp_path):
    """Scoped compaction (OPTIMIZE ... WHERE): directories whose stats are
    provably disjoint from the bounds carry into the new version untouched
    (byte-identical, stats preserved); only intersecting directories are
    rewritten.  Content is unchanged."""
    import glob

    t = SnapshotTable(str(tmp_path / "tbl"))
    # three key-disjoint directories via append writes with stats
    for lo in (0, 100, 200):
        t.write(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}", 1) for i in range(5)],
                "k int, val string, version int",
            ),
            mode="append" if lo else "overwrite",
            stats_cols=["k"],
        )
    before = t.read(spark).count()
    m0 = t._read_manifest(t.latest_version())
    cold = [r for r in m0["files"] if m0["stats"][r]["k"][1] < 100]
    assert len(cold) == 1
    snap = {
        f: open(f, "rb").read()
        for f in glob.glob(os.path.join(str(tmp_path / "tbl"), cold[0], "*"))
    }
    v = t.compact(spark, min_dirs=2, where={"k": (100, None)})
    assert v is not None
    m1 = t._read_manifest(v)
    # the cold directory is referenced unchanged, with its stats
    assert cold[0] in m1["files"]
    assert m1["stats"][cold[0]] == m0["stats"][cold[0]]
    # and its bytes are untouched
    for f, blob in snap.items():
        assert open(f, "rb").read() == blob
    # the two hot directories collapsed into one new directory
    assert len(m1["files"]) == 2
    assert t.read(spark).count() == before
    assert _rows(t.read(spark), "k", "val") == _rows(
        t.read(spark, version=v - 1), "k", "val"
    )


def test_compact_where_noop_when_nothing_intersects(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(
        spark.createDataFrame([(1, "a", 1)], "k int, val string, version int"),
        stats_cols=["k"],
    )
    t.write(
        spark.createDataFrame([(2, "b", 1)], "k int, val string, version int"),
        mode="append",
        stats_cols=["k"],
    )
    assert t.compact(spark, min_dirs=2, where={"k": (500, None)}) is None


def test_merge_retries_rebase_on_collision(spark, tmp_path):
    """retries=N rebases on a commit collision (the Delta-writer loop):
    an interleaved commit between pin and commit makes the first attempt
    lose the log-slot race; the rebase re-pins and lands on top, and both
    writers' rows survive."""

    class RacingTable(SnapshotTable):
        """Injects a racing commit after this writer pins its parent:
        _write_data runs mid-merge, so committing from a second handle
        there lands exactly inside the pin->commit window."""

        def __init__(self, path, racer_updates):
            super().__init__(path)
            self._racer_updates = racer_updates
            self._raced = False

        def _write_data(self, df, version, operation):
            rel = super()._write_data(df, version, operation)
            if not self._raced and operation == "merge" and version > 0:
                self._raced = True
                SnapshotTable(self.path).merge(
                    df.sparkSession, self._racer_updates, ["k"], "version"
                )
            return rel

    racer = _mk(spark, [(50, "racer", 1)])
    t = RacingTable(str(tmp_path / "tbl"), racer)
    t.merge(spark, _mk(spark, [(1, "a", 1)]), ["k"], "version")

    # without retries the lost race surfaces
    with pytest.raises(ConcurrentWriteError):
        t.merge(spark, _mk(spark, [(2, "b", 1)]), ["k"], "version")
    # with retries the rebase lands on top of the racer's commit
    t2 = RacingTable(str(tmp_path / "tbl2"), racer)
    t2.merge(spark, _mk(spark, [(1, "a", 1)]), ["k"], "version")
    t2.merge(spark, _mk(spark, [(2, "b", 1)]), ["k"], "version", retries=2)
    got = {r["k"]: r["val"] for r in t2.read(spark).collect()}
    assert got == {1: "a", 2: "b", 50: "racer"}


def test_snapshot_table_matches_model_under_random_op_sequences(spark, tmp_path):
    """Model-based property test: random short sequences of merge /
    append-of-new-keys / scoped-compact / restore, mirrored against a plain
    dict model (key -> (val, version), last-writer-wins by version).  After
    every op the table's read must equal the model; restore rolls both back
    to a random earlier version."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("merge"),
                  st.dictionaries(st.integers(0, 9), st.integers(0, 99), min_size=1, max_size=4)),
        st.tuples(st.just("append"), st.just(None)),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(st.just("restore"), st.just(None)),
    )

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(ops=st.lists(op, min_size=1, max_size=5), data=st.data())
    def run(ops, data):
        import uuid

        t = SnapshotTable(str(tmp_path / f"m-{uuid.uuid4().hex}"))
        model: dict[int, tuple[str, int]] = {}
        # model snapshot per committed VERSION (compact can no-op and
        # restore itself commits, so a flat list indexed by loop step would
        # misalign with version numbers)
        history: dict[int, dict] = {}
        step = 0
        fresh = 1000  # append path uses provably-new keys (the table contract)
        for kind, arg in ops:
            step += 1
            if kind == "merge":
                rows = [(k, f"v{step}-{v}", step) for k, v in arg.items()]
                t.merge(spark, _mk(spark, rows), ["k"], "version", retries=0)
                for k, v in arg.items():
                    prev = model.get(k)
                    if prev is None or step >= prev[1]:
                        model[k] = (f"v{step}-{v}", step)
            elif kind == "append":
                if t.latest_version() is None:
                    continue
                rows = [(fresh, f"a{step}", step), (fresh + 1, f"a{step}", step)]
                t.write(_mk(spark, rows), mode="append", stats_cols=["k"])
                for k, _v, _s in rows:
                    model[k] = (f"a{step}", step)
                fresh += 2
            elif kind == "compact":
                t.compact(spark, min_dirs=2, where={"k": (0, 9)})
            elif kind == "restore":
                if not history:
                    continue
                versions = sorted(history)
                pick = versions[
                    data.draw(st.integers(0, len(versions) - 1), label="restore_to")
                ]
                t.restore(pick)
                model = dict(history[pick])
            latest = t.latest_version()
            if latest is not None:
                history[latest] = dict(model)
                got = {r["k"]: (r["val"], r["version"]) for r in t.read(spark).collect()}
                assert got == model, f"divergence after {kind} at step {step}"

    run()


def test_foreach_batch_merge_evolves_schema_mid_stream(spark, tmp_path):
    """A later batch carrying a new column evolves the table through
    ``merge`` — the shape a CDC feed takes when the upstream adds a field
    mid-stream."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.merge(spark, _mk(spark, [(1, "a", 1), (2, "b", 1)]), keys=["k"], version_col="version")
    evolved = spark.createDataFrame(
        [(2, "b2", 2, 0.5)], "k int, val string, version int, score double"
    )
    t.merge(spark, evolved, keys=["k"], version_col="version")
    got = {r["k"]: (r["val"], r["score"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b2", 0.5)}


def test_diff_reports_added_removed_with_multiset_semantics(spark, tmp_path):
    """Row-level version diff: added/removed tags across a merge, duplicate
    multiplicity respected, and identical versions diff to empty."""
    t = SnapshotTable(str(tmp_path / "difftable"))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (3, "c")], "k long, v string"
    )
    t.write(base)
    v1 = t.latest_version()
    # new version: update k=2, add k=4, collapse the duplicate k=3 to one
    t.write(
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (3, "c"), (4, "d")], "k long, v string"
        )
    )
    v2 = t.latest_version()
    rows = {(r.k, r.v, r.change) for r in t.diff(spark, v1, v2).collect()}
    assert rows == {
        (2, "B", "added"),
        (4, "d", "added"),
        (2, "b", "removed"),
        (3, "c", "removed"),  # multiset: 2x -> 1x reports ONE removal
    }
    assert t.diff(spark, v2, v2).count() == 0


def test_diff_surfaces_removed_column_changes(spark, tmp_path):
    """Non-additive schema evolution: a row differing ONLY in a column that
    the newer version dropped must still show up in the diff (both sides
    align on the UNION schema with nulls; the old behavior projected old
    onto new.columns and reported such rows as unchanged)."""
    t = SnapshotTable(str(tmp_path / "diffdrop"))
    t.write(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k long, v string, legacy long"
        )
    )
    v1 = t.latest_version()
    # v2 drops `legacy` entirely; row k=1 is otherwise identical
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    v2 = t.latest_version()
    d = t.diff(spark, v1, v2)
    assert set(d.columns) == {"k", "v", "legacy", "change"}
    rows = {(r.k, r.v, r.legacy, r.change) for r in d.collect()}
    # EVERY old row differs (legacy 10/20 -> NULL): 2 removed + 2 added
    assert rows == {
        (1, "a", 10, "removed"),
        (2, "b", 20, "removed"),
        (1, "a", None, "added"),
        (2, "b", None, "added"),
    }

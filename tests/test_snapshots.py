"""Versioned lake table (sources/snapshots.py): transaction-log commits,
snapshot isolation, time travel, optimistic-concurrency conflict
detection."""

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
    v1 = t.write(_mk(spark, [(3, "c", 2)]))
    assert v1 == 1
    assert _rows(t.read(spark), "k", "val") == [(3, "c")]
    # time travel: v0 unchanged by the newer version
    assert _rows(t.read(spark, version=0), "k", "val") == [(1, "a"), (2, "b")]
    assert [t._read_manifest(v)["parent"] for v in (v0, v1)] == [None, 0]


def test_commit_conflict_raises_and_leaves_table_intact(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    # a racing writer claims version 1 between our read and our commit
    racer = SnapshotTable(t.path)
    racer._commit(1, {**t._read_manifest(0), "version": 1, "parent": 0, "operation": "race"})
    with pytest.raises(ConcurrentWriteError):
        t._commit(1, {"version": 1, "parent": 0, "operation": "lost", "files": []})
    # the winner's manifest is untouched
    assert t._read_manifest(1)["operation"] == "race"
    # rebase-and-retry path: the next write lands on version 2
    assert t.write(_mk(spark, [(2, "b", 2)])) == 2
    assert _rows(t.read(spark), "k", "val") == [(2, "b")]


def test_crash_debris_is_invisible_to_readers(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    # simulate a writer that died after writing data but before commit:
    # an orphan data dir and a temp manifest
    _mk(spark, [(99, "ghost", 9)]).write.parquet(
        os.path.join(t.path, "data", "v1-deadbeef")
    )
    with open(os.path.join(t.log_dir, "_tmp-deadbeef.json"), "w") as fh:
        json.dump({"version": 1}, fh)
    assert t.latest_version() == 0
    assert _rows(t.read(spark), "k", "val") == [(1, "a")]


def test_pinned_parent_detects_interleaved_commit(spark, tmp_path):
    """Two rebuilds racing for one slot: a commit landing between our
    pinning of the parent and our commit must make OUR write raise
    ConcurrentWriteError (parent is pinned once), never silently replace
    the racer's version."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.write(_mk(spark, [(1, "a", 1)]))
    racer = SnapshotTable(t.path)
    orig_write_data = t._write_data

    def interleave(df, version):
        rel = orig_write_data(df, version)
        # racer commits while our Spark write job is "running"
        racer.write(_mk(spark, [(7, "r", 7)]))
        return rel

    t._write_data = interleave
    with pytest.raises(ConcurrentWriteError):
        t.write(_mk(spark, [(2, "b", 2)]))
    # the racer's version is the table's latest state — nothing was lost
    assert t.latest_version() == 1
    assert _rows(t.read(spark), "k", "val") == [(7, "r")]
    assert _rows(t.read(spark, version=0), "k", "val") == [(1, "a")]


def test_snapshot_table_matches_model_under_random_op_sequences(spark, tmp_path):
    """Model-based property test: random short sequences of writes,
    mirrored against a plain multiset model of the rows.  After every
    write the latest read must equal the model, and a time-travel read of
    a random earlier version must equal the model as of that version."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.lists(st.integers(0, 9), min_size=1, max_size=4)

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(ops=st.lists(op, min_size=1, max_size=5), data=st.data())
    def run(ops, data):
        import uuid

        t = SnapshotTable(str(tmp_path / f"m-{uuid.uuid4().hex}"))
        history: dict[int, list] = {}  # model snapshot per committed version
        for step, keys in enumerate(ops):
            rows = [(k, f"v{step}", step) for k in keys]
            version = t.write(_mk(spark, rows))
            history[version] = sorted(rows)
            assert _rows(t.read(spark), "k", "val", "version") == history[version]
            pick = data.draw(st.sampled_from(sorted(history)), label="time_travel_to")
            got = _rows(t.read(spark, version=pick), "k", "val", "version")
            assert got == history[pick], f"time travel to v{pick} after step {step}"

    run()


# ---------------------------------------------------------------- z-order key
# (sources/layout.py)


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

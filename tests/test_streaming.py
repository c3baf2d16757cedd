"""Streaming tests: chronological file micro-batches over events chunks,
asserting (a) windowed counts match the batch twin, (b) alert emission,
(c) the orchestrated pipeline's keyed latest-status state, through a
restart too, (d) watermark drops late rows (ST6 — the policy the
reference lacks; SURVEY.md §2.9)."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from etl_cloud_logistics_spark.catalog import load_table
from etl_cloud_logistics_spark.streaming.jobs import (
    alert_stream,
    read_event_stream,
    windowed_counts,
)

# The state-store provider is a per-QUERY choice, read from the session
# conf when the query starts.  The default HDFS-backed store keeps state as
# JVM heap objects (right for tests and modest key counts); RocksDB keeps
# it off-heap, the backend for 100 TB-class key cardinality.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def start_with_provider(spark, writer, state_store_provider: str | None = None):
    """Start a configured ``DataStreamWriter`` under a per-query state-store
    provider: the conf is captured by the query at ``.start()``, so it is
    set just before and restored right after — later queries are
    unaffected."""
    prev = spark.conf.get(_PROVIDER_CONF, None) if state_store_provider else None
    if state_store_provider:
        spark.conf.set(_PROVIDER_CONF, state_store_provider)
    try:
        return writer.start()
    finally:
        if state_store_provider:
            if prev is None:
                spark.conf.unset(_PROVIDER_CONF)
            else:
                spark.conf.set(_PROVIDER_CONF, prev)


def run_stream_to_memory(
    stream_df,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    state_store_provider: str | None = None,
):
    """Drive a streaming frame to completion over the currently-available
    files (the synchronous test harness): memory sink +
    processAllAvailable.  ``None`` keeps the session's provider."""
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    q = start_with_provider(stream_df.sparkSession, writer, state_store_provider)
    q.processAllAvailable()
    return q


def _assert_ran_on_rocksdb(q, provider):
    """No silent fallback: the finished query's state operator must report
    RocksDB custom metrics when the RocksDB provider was requested."""
    if provider is None:
        return
    progress = q.lastProgress
    assert progress and progress.get("stateOperators"), progress
    mem = progress["stateOperators"][0].get("customMetrics", {})
    assert any("rocksdb" in k.lower() for k in mem), sorted(mem)[:8]


@pytest.fixture(scope="module")
def chunked_events(spark, sf_small, tmp_path_factory):
    """events sf0.001 split into 3 chronological parquet chunk-files."""
    base = str(tmp_path_factory.mktemp("stream_src"))
    events = load_table(spark, sf_small, "events").orderBy("ts", "event_id")
    n = events.count()
    rows = events.collect()
    chunk = (n + 2) // 3
    for i in range(3):
        part = spark.createDataFrame(rows[i * chunk : (i + 1) * chunk], events.schema)
        part.coalesce(1).write.mode("overwrite").parquet(f"{base}/_tmp_{i}")
        # single ordered file per chunk so maxFilesPerTrigger=1 is chronological
        src = [
            f for f in os.listdir(f"{base}/_tmp_{i}") if f.endswith(".parquet")
        ][0]
        os.rename(f"{base}/_tmp_{i}/{src}", f"{base}/chunk_{i}.parquet")
        time.sleep(0.05)
    return base, events


def _ckpt(tmp_path_factory) -> str:
    return str(tmp_path_factory.mktemp(f"ckpt_{uuid.uuid4().hex[:6]}"))


@pytest.mark.parametrize("provider", [None, ROCKSDB_PROVIDER], ids=["heap", "rocksdb"])
def test_windowed_counts_match_batch(spark, chunked_events, tmp_path_factory, provider):
    """Tumbling windowed aggregation state under BOTH state-store providers:
    the default HDFS-backed heap store and RocksDB (the
    100 TB-key-cardinality backend)."""
    src, events = chunked_events
    stream = read_event_stream(spark, src)
    out_name = f"win_out_{'rocks' if provider else 'heap'}"
    q = run_stream_to_memory(
        windowed_counts(stream, watermark="10 hours"),
        out_name,
        _ckpt(tmp_path_factory),
        output_mode="complete",
        state_store_provider=provider,
    )
    try:
        got = {
            (r.window_start, r.event_type): r.n_events
            for r in spark.sql(f"SELECT * FROM {out_name}").collect()
        }
        _assert_ran_on_rocksdb(q, provider)
        want = {
            (r.ws, r.event_type): r.n
            for r in events.groupBy(
                F.date_trunc("hour", "ts").alias("ws"), "event_type"
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert got == want
    finally:
        q.stop()


def test_alert_stream_matches_batch(spark, chunked_events, tmp_path_factory):
    src, events = chunked_events
    stream = read_event_stream(spark, src, max_files_per_trigger=3)
    q = run_stream_to_memory(
        alert_stream(stream), "alerts_out", _ckpt(tmp_path_factory)
    )
    try:
        got = spark.sql("SELECT * FROM alerts_out")
        want = events.filter(F.col("value") > 35)
        assert got.count() == want.count()
        sev = {r.severity: r.n for r in got.groupBy("severity").agg(F.count("*").alias("n")).collect()}
        assert set(sev) <= {"warning", "high", "critical"} and sum(sev.values()) == want.count()
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, tmp_path_factory):
    """Append-mode windowed agg with a 10-minute watermark: a row arriving
    hours late (behind the advanced watermark) must not re-open its window."""
    base = str(tmp_path_factory.mktemp("late_src"))
    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)

    def write_chunk(name, rows):
        df = spark.createDataFrame(
            [(i, ts, 1, "view", 1.0, "{}") for i, ts in rows],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{base}/_tmp")
        src = [f for f in os.listdir(f"{base}/_tmp") if f.endswith(".parquet")][0]
        os.rename(f"{base}/_tmp/{src}", f"{base}/{name}.parquet")
        time.sleep(0.05)

    stream = read_event_stream(spark, base)
    q = run_stream_to_memory(
        windowed_counts(stream, watermark="10 minutes"),
        "late_out",
        _ckpt(tmp_path_factory),
        output_mode="append",
    )
    try:
        # incremental arrival with a barrier per chunk pins micro-batch order
        write_chunk("c0", [(1, t0), (2, t0 + dt.timedelta(minutes=5))])
        q.processAllAvailable()
        # advances watermark to ~13:50
        write_chunk("c1", [(3, t0 + dt.timedelta(hours=4))])
        q.processAllAvailable()
        # hours behind the watermark → dropped
        write_chunk("c2", [(4, t0 + dt.timedelta(minutes=1))])
        q.processAllAvailable()
        # closes the 14:00 window so it can emit in append mode
        write_chunk("c3", [(5, t0 + dt.timedelta(hours=6))])
        q.processAllAvailable()
        got = {
            r.window_start: r.n_events
            for r in spark.sql("SELECT * FROM late_out").collect()
        }
        # 10:00 window emitted with the 2 on-time rows only (row 4 dropped)
        assert got[t0] == 2
        assert got[t0 + dt.timedelta(hours=4)] == 1
    finally:
        q.stop()


def _fixture_waypoints(spark, events):
    """One waypoint list per user: their own first position + an offset."""
    from etl_cloud_logistics_spark.streaming.jobs import positions_from_events

    first_pos = (
        positions_from_events(events)
        .groupBy("user_id")
        .agg(F.min_by(F.struct("lat", "lon"), F.struct("ts", "event_id")).alias("p"))
    )
    return first_pos.select(
        "user_id",
        F.array(
            F.struct(F.col("p.lat").alias("lat"), F.col("p.lon").alias("lon")),
            F.struct((F.col("p.lat") + 0.01).alias("lat"), F.col("p.lon").alias("lon")),
        ).alias("waypoints"),
    )


def test_deviation_alert_stream_matches_batch(spark, chunked_events, tmp_path_factory):
    """ST4: streamed waypoint-deviation alerts == the same computation run
    as a plain batch job over the full input."""
    from etl_cloud_logistics_spark.streaming.jobs import deviation_alert_stream

    src, events = chunked_events
    waypoints = _fixture_waypoints(spark, events)

    stream = read_event_stream(spark, src)
    q = run_stream_to_memory(
        deviation_alert_stream(stream, waypoints, threshold_km=500.0),
        "dev_out",
        _ckpt(tmp_path_factory),
    )
    try:
        got = {
            (r["alert_id"], round(r["deviation_km"], 3))
            for r in spark.sql("SELECT * FROM dev_out").collect()
        }
    finally:
        q.stop()

    batch = deviation_alert_stream(events, waypoints, threshold_km=500.0)
    want = {(r["alert_id"], round(r["deviation_km"], 3)) for r in batch.collect()}
    assert got == want
    assert want  # fixture must actually trigger alerts


def test_eta_stream_computes_remaining(spark, chunked_events, tmp_path_factory):
    """ST3: ETA recompute over micro-batches; spot-check the arithmetic."""
    from etl_cloud_logistics_spark.streaming.jobs import eta_stream

    src, events = chunked_events
    dests = (
        events.select("user_id")
        .distinct()
        .select("user_id", F.lit(0.0).alias("dest_lat"), F.lit(0.0).alias("dest_lon"))
    )
    stream = read_event_stream(spark, src)
    q = run_stream_to_memory(
        eta_stream(stream, dests, speed_kmh=60.0), "eta_out", _ckpt(tmp_path_factory)
    )
    try:
        rows = spark.sql("SELECT * FROM eta_out").collect()
    finally:
        q.stop()
    assert len(rows) == events.count()
    for r in rows[:50]:
        assert r["eta_minutes"] == round(r["remaining_km"] / 60.0 * 60.0, 1)


def test_checkpoint_recovery_exactly_once(spark, sf_small, tmp_path_factory):
    """Stop the stream mid-input, add more files, restart from the SAME
    checkpoint: the sink must end up with every event exactly once (no
    reprocessing of chunks consumed before the stop)."""
    import os

    from etl_cloud_logistics_spark.sources import foreach_batch_upsert

    base = str(tmp_path_factory.mktemp("restart_src"))
    audit = str(tmp_path_factory.mktemp("restart_audit"))
    state = str(tmp_path_factory.mktemp("restart_state")) + "/kv"
    ckpt = str(tmp_path_factory.mktemp("restart_ckpt"))

    events = load_table(spark, sf_small, "events").orderBy("ts", "event_id")
    rows = events.collect()
    third = (len(rows) + 2) // 3

    def write_chunk(i, chunk_rows):
        part = spark.createDataFrame(chunk_rows, events.schema)
        tmp = f"{base}/_tmp_{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(f"{tmp}/{src}", f"{base}/chunk_{i}.parquet")

    upsert = foreach_batch_upsert(state, keys=["user_id"], version_col="event_id")

    def sink(batch_df, batch_id):
        # audit every processed row so duplicates would be visible
        batch_df.write.mode("append").parquet(audit)
        upsert(batch_df, batch_id)

    write_chunk(0, rows[:third])
    write_chunk(1, rows[third : 2 * third])
    stream = read_event_stream(spark, base, max_files_per_trigger=1)
    q = stream.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    q.stop()

    write_chunk(2, rows[2 * third :])
    stream2 = read_event_stream(spark, base, max_files_per_trigger=1)
    q2 = stream2.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
    q2.processAllAvailable()
    q2.stop()

    # exactly-once: the audit sink saw each event exactly once across runs
    seen = spark.read.parquet(audit)
    assert seen.count() == len(rows)
    assert seen.select("event_id").distinct().count() == len(rows)

    # and the keyed state equals the batch answer over the full input
    final = spark.read.parquet(state)
    expected = events.groupBy("user_id").agg(F.max("event_id").alias("m"))
    got = {r["user_id"]: r["event_id"] for r in final.collect()}
    for r in expected.collect():
        assert got[r["user_id"]] == r["m"]


@pytest.mark.parametrize("restart", [False, True], ids=["fresh", "restart"])
def test_streaming_pipeline_end_to_end(spark, chunked_events, tmp_path_factory, restart):
    """The orchestrated three-query pipeline lands alerts, keyed state, and
    (watermark-closed) hourly counts consistent with batch over the same
    input.  ``restart``: the pipeline drains chunks 0–1, stops, and a
    second ``start_streaming_pipeline`` on the same warehouse drains the
    chunk added since — checkpoint recovery must neither drop nor
    duplicate anything."""
    from etl_cloud_logistics_spark.streaming.pipeline import (
        run_until_drained,
        start_streaming_pipeline,
    )

    src, events = chunked_events
    wh = str(tmp_path_factory.mktemp("stream_wh"))
    if restart:
        chunks = [os.path.join(src, f"chunk_{i}.parquet") for i in range(3)]
        src = str(tmp_path_factory.mktemp("stream_src_restart"))
        for chunk in chunks[:2]:
            shutil.copy(chunk, src)
        run_until_drained(start_streaming_pipeline(spark, src, wh, alert_threshold=35.0))
        time.sleep(0.05)
        shutil.copy(chunks[2], src)
    queries = start_streaming_pipeline(spark, src, wh, alert_threshold=35.0)
    run_until_drained(queries)

    # alerts == batch filter, each alert exactly once
    alerts = spark.read.parquet(os.path.join(wh, "alerts"))
    expected_alerts = events.filter(F.col("value") > 35.0).count()
    assert alerts.count() == expected_alerts
    assert alerts.select("alert_id").distinct().count() == expected_alerts

    # keyed state == batch max-event per user
    state = spark.read.parquet(os.path.join(wh, "latest_status"))
    want = {
        r["user_id"]: r["m"]
        for r in events.groupBy("user_id").agg(F.max("event_id").alias("m")).collect()
    }
    got = {r["user_id"]: r["event_id"] for r in state.collect()}
    assert got == want and state.count() == len(want)

    # hourly counts: append mode only emits watermark-closed windows — every
    # emitted window appears once and matches its batch twin exactly
    counts = spark.read.parquet(os.path.join(wh, "hourly_counts"))
    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .collect()
    }
    rows = counts.collect()
    assert rows and len({(r["window_start"], r["event_type"]) for r in rows}) == len(rows)
    for r in rows:
        assert batch[(r["window_start"], r["event_type"])] == r["n_events"]


def test_crash_mid_batch_restart_exactly_once_state(
    spark, sf_small, tmp_path_factory
):
    """Crash-recovery depth beyond graceful q.stop() (r8, VERDICT r7 item
    6): a foreachBatch sink THROWS mid-batch — after its side effects ran
    but before the engine could commit the batch to the checkpoint — so
    the query dies exactly as an executor/driver crash would leave it.
    Restarting from the same checkpoint must redeliver that batch
    (at-least-once source contract, visible in the audit sink) while the
    keyed upsert state converges to the exactly-once batch answer, because
    `foreach_batch_upsert`'s max-version merge is replay-idempotent."""
    import os

    from etl_cloud_logistics_spark.sources import foreach_batch_upsert

    base = str(tmp_path_factory.mktemp("crash_src"))
    audit = str(tmp_path_factory.mktemp("crash_audit"))
    state = str(tmp_path_factory.mktemp("crash_state")) + "/kv"
    ckpt = str(tmp_path_factory.mktemp("crash_ckpt"))

    events = load_table(spark, sf_small, "events").orderBy("ts", "event_id")
    rows = events.collect()
    third = (len(rows) + 2) // 3

    def write_chunk(i, chunk_rows):
        part = spark.createDataFrame(chunk_rows, events.schema)
        tmp = f"{base}/_tmp_{i}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.rename(f"{tmp}/{src}", f"{base}/chunk_{i}.parquet")

    for i in range(3):
        write_chunk(i, rows[i * third : (i + 1) * third])

    upsert = foreach_batch_upsert(state, keys=["user_id"], version_col="event_id")
    crashed = {"done": False}

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(audit)
        upsert(batch_df, batch_id)
        if batch_id == 1 and not crashed["done"]:
            crashed["done"] = True  # crash once, AFTER the side effects
            raise RuntimeError("injected crash after state write, before commit")

    stream = read_event_stream(spark, base, max_files_per_trigger=1)
    q = stream.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
    with pytest.raises(Exception):  # the injected crash kills the query
        q.processAllAvailable()
    q.stop()
    assert crashed["done"], "the crash batch never ran"

    # restart from the SAME checkpoint: batch 1 must be REPLAYED
    stream2 = read_event_stream(spark, base, max_files_per_trigger=1)
    q2 = stream2.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
    q2.processAllAvailable()
    q2.stop()

    # at-least-once delivery is real: the audit saw the crashed batch twice
    seen = spark.read.parquet(audit)
    assert seen.count() > len(rows), "crash did not cause a redelivery"
    assert seen.select("event_id").distinct().count() == len(rows)

    # exactly-once STATE: the keyed table equals the batch answer anyway
    final = spark.read.parquet(state)
    assert final.count() == events.select("user_id").distinct().count()
    expected = events.groupBy("user_id").agg(F.max("event_id").alias("m"))
    got = {r["user_id"]: r["event_id"] for r in final.collect()}
    for r in expected.collect():
        assert got[r["user_id"]] == r["m"]


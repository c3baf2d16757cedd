"""Structured Streaming jobs — the reference's serverless real-time path
(API Gateway → Lambda → DynamoDB/SNS, ``scripts/07_lambda_functions.py``)
re-expressed as one streaming job family over the events source.

Mapping (SURVEY.md §2.9):
- ST1 ingestion        → ``read_event_stream`` (multi-source seam, r7:
  ``files`` for tests, ``kafka`` + ``decode_event_json`` for production
  brokers, ``rate`` for self-contained soak runs — all yield EVENT_SCHEMA
  columns, so every downstream job is source-agnostic)
- ST2 status lookup    → ``latest_status_stream`` (applyInPandasWithState —
  the DynamoDB ``deliveries_status`` table becomes Spark state-store state)
- ST4 deviation alerts → ``alert_stream`` (stateless exprs → alert sink via
  foreachBatch; alerts_history = append sink)
- ST6 watermark        → ``windowed_counts`` (the late-data policy the
  reference lacks entirely: events arriving more than the watermark delay
  after the max seen event time are dropped, bounding state)

Scale notes: event-time aggs keep per-(window, key) state in the state store;
the watermark bounds state size; the stateful map keeps exactly one row per
user.  Checkpointing gives exactly-once over replayable sources.  The state
store BACKEND is a per-query seam (``run_stream_to_memory``'s
``state_store_provider`` / ``ROCKSDB_PROVIDER``): the default HDFS-backed
heap store is right for tests and modest key counts, RocksDB for
100 TB-class key cardinality — CI runs the ST2 state job under both and
pins equal output (``test_latest_status_state_under_rocksdb_provider``).

r11 adds the Spark-4 stateful API surface: ``running_user_stats_stream``
(``transformWithStateInPandas`` — ValueState + explicit event-time timers
with closed-row eviction; environment-guarded on protobuf, see its
docstring).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from ..catalog import SCHEMAS, ensure_session_confs

EVENT_SCHEMA = SCHEMAS["events"]


def decode_event_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse a broker payload column (Kafka/Kinesis deliver bytes) into the
    canonical event columns.  Pure column expressions — works on batch and
    streaming frames alike, so the decode contract is pytest-testable
    without a broker (the same separation the JDBC source keeps between
    option-plumbing and the untestable network hop).  Failure semantics
    (from_json's PERMISSIVE default, r8 docstring correction): only
    UNPARSEABLE JSON nulls the whole struct → an all-null row; a payload
    that parses but has a missing or wrong-typed field nulls just that
    field, yielding a partial row.  A downstream ``event_id IS NOT NULL``
    filter therefore quarantines both fully-malformed payloads AND
    otherwise-well-formed events that merely lack ``event_id`` — choose a
    stricter per-field policy if partial rows should survive."""
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), EVENT_SCHEMA).alias("e")
    ).select("e.*")


def read_event_stream(
    spark: SparkSession,
    source_dir: str | None = None,
    max_files_per_trigger: int = 1,
    source: str = "files",
    kafka_bootstrap: str | None = None,
    kafka_topic: str = "events",
    rows_per_second: int = 100,
) -> DataFrame:
    """Event stream (ST1) from one of three sources, all yielding the same
    EVENT_SCHEMA columns so every downstream job is source-agnostic:

    - ``files`` (default): chronological parquet chunks dropped into
      ``source_dir`` — the test harness's replayable micro-batch source;
    - ``kafka``: ``format('kafka')`` + JSON payload decode
      (:func:`decode_event_json`) — the production broker path.  Needs the
      spark-sql-kafka connector on the classpath and a reachable
      bootstrap server; neither exists in the test sandbox, so only the
      decode half is differential-tested;
    - ``rate``: Spark's built-in rate source mapped to deterministic
      synthetic events — a self-contained soak/throughput source that
      runs anywhere, used to exercise the multi-source seam in CI."""
    ensure_session_confs(spark)
    if source == "files":
        if source_dir is None:
            raise ValueError("source='files' requires source_dir")
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(source_dir)
        )
    if source == "kafka":
        if kafka_bootstrap is None:
            raise ValueError(
                "source='kafka' requires kafka_bootstrap "
                "(host:port of the broker bootstrap servers)"
            )
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_bootstrap)
            .option("subscribe", kafka_topic)
            .option("startingOffsets", "earliest")
            .load()
        )
        return decode_event_json(raw)
    if source == "rate":
        raw = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second)
            .load()
        )
        # deterministic event synthesis from the monotone rate counter —
        # same distribution family as sources/generator.py's batch events
        return raw.select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 50).alias("user_id"),
            F.element_at(
                F.array(F.lit("ping"), F.lit("move"), F.lit("scan"), F.lit("drop")),
                (F.col("value") % 4 + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(F.hash(F.col("value")), F.lit(5000)) / 100.0).alias("value"),
            F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
        )
    raise ValueError(f"unknown source {source!r}: use 'files', 'kafka' or 'rate'")


def windowed_counts(
    events: DataFrame, watermark: str = "10 minutes", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling event-time counts (ST6) — the streaming twin of
    queries.events_ops.tumbling_hourly_counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def alert_stream(events: DataFrame, threshold: float = 35.0) -> DataFrame:
    """Stateless alert emission (ST4) — same severity expression as the
    batch twin queries.events_ops.threshold_alerts."""
    return events.filter(F.col("value") > threshold).select(
        F.col("event_id").alias("alert_id"),
        "user_id",
        "ts",
        "value",
        F.when(F.col("value") > 45, "critical")
        .when(F.col("value") > 40, "high")
        .otherwise("warning")
        .alias("severity"),
    )


LATEST_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("last_event_type", T.StringType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _fold_latest(best, pdfs: Iterator[pd.DataFrame]):
    """Fold the (ts, event_id)-max event over the micro-batch — shared by
    the NoTimeout and TTL variants so the comparison/tuple logic cannot
    drift between them."""
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        last = pdf.iloc[-1]
        cand = (
            int(last["event_id"]),
            last["ts"].to_pydatetime(),
            str(last["event_type"]),
            float(last["value"]),
        )
        if best is None or (cand[1], cand[0]) > (best[1], best[0]):
            best = cand
    return best


def _latest_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Keep the (ts, event_id)-max event per user in the state store —
    the DynamoDB put_item upsert (07_lambda_functions.py:108-120) as a
    custom stateful operator."""
    best = _fold_latest(state.get if state.exists else None, pdfs)
    state.update(best)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_event_id": [best[0]],
            "last_ts": [best[1]],
            "last_event_type": [best[2]],
            "last_value": [best[3]],
        }
    )


def latest_status_stream(events: DataFrame) -> DataFrame:
    """Latest-status state per user (ST2) via applyInPandasWithState."""
    return events.groupBy("user_id").applyInPandasWithState(
        _latest_fn,
        outputStructType=LATEST_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def latest_status_stream_agg(events: DataFrame) -> DataFrame:
    """Latest-status per user as a NATIVE streaming aggregation — the
    JVM-side twin of :func:`latest_status_stream`, byte-equal output.

    The running "(ts, event_id)-max event per key" fold is an ordinary
    streaming ``max`` over a struct whose leading fields are the ordering
    key (struct comparison is lexicographic, so ``max`` picks exactly the
    row ``_fold_latest`` keeps), which Catalyst executes as a stateful
    hash aggregation: the fold runs in codegen'd HashAggregate stages
    around JVM state-store ops, one state row per user — no Arrow hop,
    no per-group Python call.  Prefer this for the plain latest-value
    use; the
    ``applyInPandasWithState`` variant remains the template for logic an
    aggregate can't express (the TTL flavor's timer-driven eviction, the
    funnel's per-key candidate pruning).  Measured against the Python
    twin in ``tools/scaling_probe.py --streaming``.

    Caveat: on an exact (ts, event_id) tie the struct comparison falls
    through to (event_type, value) while the Python twin keeps the first
    arrival — divergence requires two DIFFERENT payloads under one
    event_id at one timestamp, i.e. a violated event-id uniqueness
    contract upstream; equal-output is pinned for well-formed streams in
    tests/test_streaming.py::test_latest_status_agg_equals_python_twin."""
    m = F.max(F.struct("ts", "event_id", "event_type", "value")).alias("m")
    return events.groupBy("user_id").agg(m).select(
        "user_id",
        F.col("m.event_id").alias("last_event_id"),
        F.col("m.ts").alias("last_ts"),
        F.col("m.event_type").alias("last_event_type"),
        F.col("m.value").alias("last_value"),
    )


# State-store provider seam (r9, VERDICT r8 #6).  The default provider
# (HDFSBackedStateStoreProvider) keeps every key's state as JVM heap
# objects — fine for the test harness and for modest key counts, but at
# 100 TB-class key cardinality (one state row per user/session) the heap
# becomes the bottleneck and GC pauses stall micro-batches.  RocksDB keeps
# state off-heap in an embedded LSM store with incremental checkpointing —
# the standard big-state choice.  The provider is a per-QUERY decision
# read from the session conf at query start, so the seam sets it around
# ``.start()`` and restores the previous value; trade-off: RocksDB adds
# per-access (de)serialization and native-lib startup, so the default stays
# HDFS-backed for small-state jobs and tests opt in explicitly.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "append",
    state_store_provider: str | None = None,
):
    """Drive a streaming frame to completion over the currently-available
    files (tests' synchronous harness): memory sink + processAllAvailable.

    ``state_store_provider`` selects the state-store backend for THIS
    query (e.g. ``ROCKSDB_PROVIDER``); ``None`` keeps the session default.
    The conf is captured by the query at start, so it is set just before
    ``.start()`` and restored right after — later queries are unaffected."""
    spark = stream_df.sparkSession
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    q = start_with_provider(spark, writer, state_store_provider)
    q.processAllAvailable()
    return q


def start_with_provider(spark, writer, state_store_provider: str | None = None):
    """Start a configured ``DataStreamWriter`` under a per-QUERY state-store
    provider: the conf is captured by the query at ``.start()``, so it is
    set just before and restored right after — later queries are
    unaffected.  The single home of the set/start/restore seam (r11: it
    had grown three copies across the test harness and the streaming
    probes)."""
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


def positions_from_events(events: DataFrame) -> DataFrame:
    """Deterministic GPS positions derived from event ids (same derivation as
    the batch twin queries.events_ops.geo_movement_per_user, so streaming
    results are comparable against batch)."""
    return events.select(
        "event_id",
        "user_id",
        "ts",
        ((F.col("event_id") % 90).cast("double") - 45).alias("lat"),
        ((F.col("event_id") % 180).cast("double") - 90).alias("lon"),
    )


def deviation_alert_stream(
    events: DataFrame, waypoints: DataFrame, threshold_km: float = 5.0
) -> DataFrame:
    """Route-deviation alerts (ST4, ref 07_lambda_functions.py:143-226): per
    GPS event, minimum distance to the route's waypoint list; emit an alert
    row when it exceeds the threshold.

    ``waypoints``: STATIC frame (user_id, waypoints: array<struct<lat,lon>>)
    — the DynamoDB routes_waypoints table twin.  It is broadcast, so the
    stream stays stateless: each micro-batch is a map-side join + filter
    (same per-event semantics as the Lambda, at micro-batch granularity)."""
    from ..functions import min_waypoint_dist_km

    pos = positions_from_events(events)
    return (
        pos.join(F.broadcast(waypoints), "user_id")
        .withColumn(
            "deviation_km",
            F.round(min_waypoint_dist_km(F.col("lat"), F.col("lon"), F.col("waypoints")), 3),
        )
        .filter(F.col("deviation_km") > threshold_km)
        .select(
            F.col("event_id").alias("alert_id"),
            "user_id",
            "ts",
            "lat",
            "lon",
            "deviation_km",
        )
    )


def eta_stream(
    events: DataFrame, destinations: DataFrame, speed_kmh: float = 60.0
) -> DataFrame:
    """Periodic ETA recompute (ST3, ref 07_lambda_functions.py:76-138): per
    position event, remaining distance to the destination over an assumed
    speed.  In production this runs with ``trigger(processingTime='5
    minutes')`` — the EventBridge-schedule twin; the transformation is
    trigger-agnostic so tests drive it with AvailableNow."""
    from ..functions import dist_km

    pos = positions_from_events(events)
    return (
        pos.join(F.broadcast(destinations), "user_id")
        .withColumn(
            "remaining_km",
            F.round(dist_km(F.col("lat"), F.col("lon"), F.col("dest_lat"), F.col("dest_lon")), 3),
        )
        .withColumn(
            "eta_minutes", F.round(F.col("remaining_km") / F.lit(speed_kmh) * 60.0, 1)
        )
        .select("event_id", "user_id", "ts", "remaining_km", "eta_minutes")
    )


def session_window_counts(
    events: DataFrame, watermark: str = "1 hour", gap: str = "30 minutes"
) -> DataFrame:
    """Watermarked session windows per user (ST6 family): sessions close
    after ``gap`` of inactivity; the watermark lets the state store evict
    closed sessions — unbounded-session state is the classic streaming
    leak this bounds."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_stream_join(
    clicks: DataFrame,
    purchases: DataFrame,
    watermark: str = "1 hour",
    within: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: purchases matched to a
    same-user click at most ``within`` before them.  Both sides are
    watermarked and the join carries a time-range condition, so each side's
    buffered state is evicted once the watermark passes — the bounded-state
    form of event correlation (without the bound, a stream-stream join
    buffers forever)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    return c.join(p, cond).select(
        F.col("p_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact deduplication (extension X1's stream twin): an
    at-least-once source (Kafka redelivery, file-source replays) emits the
    same event more than once; the first arrival per ``keys`` passes, later
    copies are dropped.  ``dropDuplicatesWithinWatermark`` keys the dedup
    state on ``keys`` and EVICTS an entry once the event-time watermark
    passes it — bounded state at any corpus size, where a plain
    ``dropDuplicates`` on a stream retains every key forever and OOMs a
    100 TB ingest.  Duplicates arriving later than the watermark delay are
    not caught (the documented at-most-watermark contract); size the delay
    to the source's redelivery horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


# ---------------------------------------------------------------------------
# Streaming funnel (extension of ST2's stateful pattern to the behavioral
# funnel — batch twin operators.eventflow.funnel_user_steps)
# ---------------------------------------------------------------------------

FUNNEL_STEPS = ["view", "click", "purchase"]

_FUNNEL_STATE = T.StructType(
    [  # per-step candidate timestamps (micros) surviving the pruning rule
        T.StructField("ts1", T.ArrayType(T.LongType())),
        T.StructField("ts2", T.ArrayType(T.LongType())),
        T.StructField("ts3", T.ArrayType(T.LongType())),
    ]
)

FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("step_reached", T.IntegerType()),
        T.StructField("step_ts_1", T.TimestampType()),
        T.StructField("step_ts_2", T.TimestampType()),
        T.StructField("step_ts_3", T.TimestampType()),
    ]
)


def _funnel_resolve(lists: list[list[int]]) -> list[int | None]:
    """Earliest-completion chain over the retained candidate lists."""
    out: list[int | None] = []
    prev: int | None = None
    for i, ls in enumerate(lists):
        if i == 0:
            cur = min(ls) if ls else None
        elif prev is None:
            cur = None
        else:
            later = [t for t in ls if t > prev]
            cur = min(later) if later else None
        out.append(cur)
        prev = cur
    return out


def _funnel_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Exact earliest-completion funnel under ARBITRARY arrival order.

    Why lists and not three scalars: a view arriving late with an earlier
    timestamp lowers s1, which can re-validate a click that was previously
    too early — a scalar state machine would have discarded it and report
    a wrong (too-late or missing) conversion.  The retained-candidate rule
    keeps exactness with pruned state: for step k, candidates with
    ts > current s_k can never become the new s_k (loosening an earlier
    constraint only moves minima DOWN), so each list is cut at its step's
    current completion; step 1 collapses to a single scalar (its min).
    State per user is therefore |events before the user's conversion
    frontier| — three scalars once the funnel completes tightly — the
    same asymptotic contract as ClickHouse's in-memory windowFunnel."""
    lists: list[list[int]] = (
        [list(state.get[0] or []), list(state.get[1] or []), list(state.get[2] or [])]
        if state.exists
        else [[], [], []]
    )
    for pdf in pdfs:
        for _, row in pdf.iterrows():
            try:
                idx = FUNNEL_STEPS.index(str(row["event_type"]))
            except ValueError:
                continue
            lists[idx].append(int(row["ts"].value // 1_000))
    resolved = _funnel_resolve(lists)
    # prune: step 0 keeps only its min; step k keeps candidates <= s_k
    # (all candidates while s_k is still unreached)
    pruned: list[list[int]] = []
    for i, ls in enumerate(lists):
        if i == 0:
            pruned.append([resolved[0]] if resolved[0] is not None else [])
        elif resolved[i] is None:
            pruned.append(sorted(set(ls)))
        else:
            pruned.append(sorted({t for t in ls if t <= resolved[i]}))
    state.update(tuple(pruned))
    step_reached = sum(1 for t in resolved if t is not None)
    ts_vals = [
        pd.Timestamp(t, unit="us") if t is not None else pd.NaT for t in resolved
    ]
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "step_reached": [step_reached],
            "step_ts_1": [ts_vals[0]],
            "step_ts_2": [ts_vals[1]],
            "step_ts_3": [ts_vals[2]],
        }
    )


def funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming strict-order funnel view → click → purchase: one state row
    per user, exact under out-of-order delivery (see _funnel_fn).  Emits
    the user's current (step_reached, step timestamps) on every update;
    step_reached is monotone nondecreasing and each step_ts monotone
    nonincreasing, so downstream consumers may keep latest-per-user, and
    an aggregator may equivalently take (max step, min ts per step)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=_FUNNEL_STATE,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


_INTERVAL_UNIT_MS = {
    "millisecond": 1,
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
}


def interval_ms(spec: str) -> int:
    """Parse a Spark-style '<n> <unit>' interval string to milliseconds."""
    n, unit = spec.strip().split()
    return int(n) * _INTERVAL_UNIT_MS[unit.lower().rstrip("s")]


def _make_latest_ttl_fn(ttl_ms: int):
    """_latest_fn plus event-time TTL: a user idle past the TTL has their
    state EVICTED when the watermark passes (they re-materialize from their
    next event — correct cache semantics for a latest-status store)."""

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        best = _fold_latest(state.get if state.exists else None, pdfs)
        state.update(best)
        # the tz-naive timestamp is UTC wall-clock (session TZ is pinned UTC);
        # naive .timestamp() would interpret it in the HOST zone and shift the
        # epoch by the UTC offset — behind the watermark on UTC+ hosts, which
        # kills the query ("timeout cannot be earlier than watermark")
        import datetime as _dt

        epoch_ms = int(best[1].replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
        # arbitrary stateful ops do NOT auto-drop late rows: an event landing
        # more than ttl behind the watermark would place the timeout in the
        # past and throw ("timeout cannot be earlier than watermark"), so
        # clamp to just past the current watermark — the row is then evicted
        # at the next watermark advance, which is the TTL's intent anyway
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(epoch_ms + ttl_ms, wm_ms + 1))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_event_id": [best[0]],
                "last_ts": [best[1]],
                "last_event_type": [best[2]],
                "last_value": [best[3]],
            }
        )

    return fn


def latest_status_stream_ttl(
    events: DataFrame, watermark: str = "1 hour", ttl: str = "2 hours"
) -> DataFrame:
    """Latest-status state per user with BOUNDED state (ST2 at 100 TB):
    ``latest_status_stream``'s NoTimeout variant holds one state row per
    user EVER seen — unbounded over an unbounded identity space.  This
    variant sets an event-time timeout 2 h past each user's newest event;
    when the watermark passes it, the state row is evicted, so steady-state
    state size tracks ACTIVE users in the TTL horizon, not lifetime users.
    An evicted user's next event simply re-creates the row (the cache
    re-materializes) — semantics a serving lookup tolerates by design.
    Eviction is pytest-pinned via numRowsTotal, like the dedup bound.

    ``ttl`` must exceed the watermark delay: with ttl ≤ delay, every event
    arriving right at the watermark would need its timeout clamped, making
    eviction degenerate (validated eagerly here rather than failing deep in
    a microbatch)."""
    ttl_ms = interval_ms(ttl)
    if ttl_ms <= interval_ms(watermark):
        raise ValueError(
            f"ttl ({ttl}) must be greater than the watermark delay "
            f"({watermark}): otherwise state is evicted before late data "
            "the watermark still admits can reach it"
        )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_latest_ttl_fn(ttl_ms),
            outputStructType=LATEST_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="EventTimeTimeout",
        )
    )


# ---------------------------------------------------------------------------
# Streaming drift monitor (operators.drift composed into ingestion)
# ---------------------------------------------------------------------------


def foreach_batch_drift_monitor(
    reference: DataFrame,
    value_col: str,
    out_path: str,
    min_rows: int = 1,
):
    """A ``foreachBatch`` sink that scores every arriving micro-batch's
    ``value_col`` distribution against a static reference with the
    two-sample KS statistic (``operators.drift.ks_statistic``) and appends
    one ``(batch_id, ks_stat, at_value, n_ref, n_batch)`` row per batch to
    ``out_path`` — the ingest-time version of the batch drift gate (alert
    when ks_stat crosses the threshold your sample sizes justify).

    The reference frame is typically small (a sampled baseline window) and
    is re-used across batches; the KS computation itself is the
    distributed two-phase form, so a huge micro-batch is fine.  Batches
    with fewer than ``min_rows`` values are skipped (a KS against an empty
    side is meaningless, and the empty-batch heartbeat would write junk
    rows)."""
    from ..operators.drift import ks_statistic

    ref = reference.select(
        F.col(value_col).alias("v"), F.lit("a").alias("side")
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_vals = batch_df.select(
            F.col(value_col).alias("v"), F.lit("b").alias("side")
        )
        if batch_vals.limit(min_rows).count() < min_rows:
            return
        row = ks_statistic(ref.unionByName(batch_vals), "v", "side").first()
        batch_df.sparkSession.createDataFrame(
            [
                (
                    batch_id,
                    row["ks_stat"],
                    row["at_value"],
                    row["n_a"],
                    row["n_b"],
                )
            ],
            "batch_id long, ks_stat double, at_value double, n_ref long, n_batch long",
        ).write.mode("append").parquet(out_path)

    return sink


# ---------------------------------------------------------------------------
# Streaming heavy hitters (operators.heavyhitters folded across batches)
# ---------------------------------------------------------------------------


def foreach_batch_heavy_hitters(state_path: str, item_col: str, k: int = 256):
    """A ``foreachBatch`` sink maintaining a k-counter Misra-Gries summary
    of ``item_col`` across the whole stream — frequent-items monitoring
    with state bounded at k rows no matter how much data flows through
    (the streaming twin of the batch ``heavy_hitters_exact`` driver row,
    which can afford an exact verify pass because it re-reads its input).

    Per batch: per-partition MG sketches over the new rows
    (``mg_sketch_partials`` — constant memory), then one associative
    ``mg_compress`` merge with the persisted summary (Agarwal et al. 2012),
    so after any prefix of the stream every item with true count
    > n_seen/(k+1) is present and counts undercount by at most that bound.
    State persists via ``atomic_overwrite`` and carries the last applied
    batch id, making crash-replays of a batch idempotent: a batch id at or
    below the last applied one is skipped."""
    import os

    from ..operators.heavyhitters import mg_compress, mg_sketch_partials
    from ..sources.upsert import _recover_interrupted_swap, atomic_overwrite

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # first-run detection by path, not a blanket except: a CORRUPT state
        # read must fail loudly, never silently restart the summary from
        # zero (which would quietly void the undercount bound)
        _recover_interrupted_swap(state_path)
        if os.path.exists(state_path):
            state = spark.read.parquet(state_path)
            seen = state.agg(F.max("last_batch")).first()[0]
        else:
            state, seen = None, None
        if seen is not None and batch_id <= seen:
            return  # crash-replay of an already-applied batch
        summary = mg_sketch_partials(batch_df.select(item_col), item_col, k)
        if state is not None:
            summary = summary.unionByName(state.select("item", "cnt"))
        merged = mg_compress(summary, k)
        atomic_overwrite(
            merged.withColumn("last_batch", F.lit(batch_id)), state_path
        )

    return sink


# ---------------------------------------------------------------------------
# transformWithState (Spark 4): per-user running stats with timer eviction —
# the ST2 counter surface (ref 07_lambda_functions.py:18-71 keeps running
# per-delivery state in DynamoDB) on the NEWEST stateful API.  What this API
# adds over applyInPandasWithState (which the other stateful jobs use):
# multiple independently-typed state variables, EXPLICIT per-key timers
# (handleExpiredTimer fires on watermark passage, no per-batch timeout
# bookkeeping in user code), and first-class TTL on each state var.  At
# 100 TB the shape is identical — one state row per active user, keyed
# shuffle on user_id, RocksDB for key cardinality — but idle eviction emits
# a CLOSED summary row instead of silently dropping, so downstream sinks
# see every user's final state exactly once.
# ---------------------------------------------------------------------------
RUNNING_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("closed", T.BooleanType()),
    ]
)


def _make_running_stats_processor(idle_ttl_ms: int):
    from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStatsProcessor(StatefulProcessor):
        """ValueState (n, total, last_ts_ms) + one event-time timer per
        user at last_ts + idle_ttl: each input batch folds into the state
        and emits the updated running row (closed=false); when the
        watermark passes the timer the user's FINAL row (closed=true) is
        emitted and the state cleared — the next event simply re-creates
        it (same re-materialization contract as latest_status_stream_ttl).
        """

        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            self.state = handle.getValueState(
                "stats", "n BIGINT, total DOUBLE, last_ts_ms BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, total, last_ms = 0, 0.0, 0
            if self.state.exists():
                n, total, last_ms = self.state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                batch_max_ms = int(pdf["ts"].max().value // 1_000_000)
                last_ms = max(last_ms, batch_max_ms)
            self.state.update((n, total, last_ms))
            # one live timer per key: re-arm at the newest event
            for t in self.handle.listTimers():
                self.handle.deleteTimer(t)
            self.handle.registerTimer(last_ms + idle_ttl_ms)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                    "closed": [False],
                }
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self.state.exists():
                return iter(())
            n, total, last_ms = self.state.get()
            self.state.clear()
            return iter(
                [
                    pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "n_events": [n],
                            "total_value": [total],
                            "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                            "closed": [True],
                        }
                    )
                ]
            )

        def close(self) -> None:
            pass

    return RunningStatsProcessor()


def running_user_stats_stream(
    events: DataFrame, watermark: str = "10 hours", idle_ttl: str = "30 days"
) -> DataFrame:
    """Per-user running (count, total, last-seen) via
    ``transformWithStateInPandas`` with timer-driven idle eviction.

    ``idle_ttl`` must exceed the watermark delay for the same reason as
    ``latest_status_stream_ttl``: a timer armed inside the watermark
    horizon could fire while admissible late rows are still due.

    ENVIRONMENT GUARD (same contract as the JDBC/Kafka/PIL seams):
    transformWithState's Python↔JVM state protocol is protobuf-encoded
    (``pyspark/sql/streaming/proto/StateMessage_pb2``), and ``protobuf``
    is not installed in this container — without this eager check the
    query fails at runtime with an opaque "driver worker exited
    unexpectedly (crashed)" whose real cause (an ImportError inside the
    driver-side Python worker) only surfaces in INFO logs.  The
    processor's fold/timer semantics are pure Python and fully
    unit-tested without the runtime (tests/test_streaming.py); the
    end-to-end tests importorskip protobuf so they activate on any
    normally-provisioned cluster."""
    ttl_ms = interval_ms(idle_ttl)
    if ttl_ms <= interval_ms(watermark):
        raise ValueError(
            f"idle_ttl ({idle_ttl}) must exceed the watermark delay "
            f"({watermark}); state would close before late data the "
            "watermark still admits"
        )
    try:
        from google.protobuf import descriptor as _d  # noqa: F401, PLC0415
    except ImportError as exc:
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark's transform_with_state driver worker imports "
            "google.protobuf for its state protocol); it is not installed "
            "in this environment. Install protobuf, or use "
            "latest_status_stream_ttl (applyInPandasWithState) for "
            "TTL'd per-key state without it."
        ) from exc
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_running_stats_processor(ttl_ms),
            outputStructType=RUNNING_STATS_SCHEMA,
            outputMode="Update",
            timeMode="EventTime",
        )
    )

"""Structured Streaming jobs — the reference's serverless real-time path
(API Gateway → Lambda → DynamoDB/SNS, ``scripts/07_lambda_functions.py``)
re-expressed as one streaming job family over the events source.

Mapping (SURVEY.md §2.9):
- ST1 ingestion        → ``read_event_stream`` (chronological parquet
  chunks dropped into a directory, read as EVENT_SCHEMA columns)
- ST2 status lookup    → the keyed upsert sink of
  ``streaming.pipeline.start_streaming_pipeline``
  (``sources.upsert.foreach_batch_upsert``: the DynamoDB
  ``deliveries_status`` table becomes a keyed parquet table)
- ST3 ETA recompute    → ``eta_stream``
- ST4 deviation alerts → ``alert_stream`` (threshold) and
  ``deviation_alert_stream`` (F20's minimum waypoint distance)
- ST6 watermark        → ``windowed_counts`` (the late-data policy the
  reference lacks entirely: events arriving more than the watermark delay
  after the max seen event time are dropped, bounding state)

Scale notes: event-time aggs keep per-(window, key) state in the state
store and the watermark bounds its size; the alert and ETA jobs are
stateless map-side work (their static side is broadcast).  Checkpointing
gives exactly-once over replayable sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SCHEMAS, ensure_session_confs

EVENT_SCHEMA = SCHEMAS["events"]


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Event stream (ST1): chronological parquet chunks dropped into
    ``source_dir``, read as EVENT_SCHEMA columns — a replayable file
    source, so checkpointed restarts are exactly-once."""
    ensure_session_confs(spark)
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


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

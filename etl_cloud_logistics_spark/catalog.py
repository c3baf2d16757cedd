"""Table catalog: explicit schemas + loaders for the driver testdata.

The reference declares every schema up front (Snowflake DDL
``scripts/04_dimensional_model.sql:19-155``; Postgres INSERT column lists in
``scripts/01_data_generation.py``) and gates loads on a schema check
(``scripts/05_etl_pipeline/etl_pipeline.py:194-224``).  We do the same:
explicit ``StructType`` per table, no inference in production paths, and a
fail-fast ``validate_schema`` gate (operator S9 in SURVEY.md §2.1).

Scale note: the loaders are plain ``spark.read.parquet`` scans — at 100 TB the
same call reads a partitioned lake layout and Catalyst handles partition
pruning / predicate pushdown / column pruning; nothing here materializes data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.checkpointing import materialize

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


class SchemaValidationError(RuntimeError):
    """Raised when a source table does not match its declared schema."""


def validate_schema(df: DataFrame, table: str) -> DataFrame:
    """Fail-fast schema gate (mirrors etl_pipeline.py:194-224's SHOW TABLES
    check, upgraded to a column-level comparison)."""
    declared = SCHEMAS[table]
    got = {f.name: f.dataType for f in df.schema.fields}
    want = {f.name: f.dataType for f in declared.fields}
    missing = set(want) - set(got)
    if missing:
        raise SchemaValidationError(f"{table}: missing columns {sorted(missing)}")
    wrong = {n: (str(got[n]), str(want[n])) for n in want if got[n] != want[n]}
    if wrong:
        raise SchemaValidationError(f"{table}: type mismatches {wrong}")
    return df


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime SQLConfs the engine depends on, so results are correct
    even when the caller (e.g. the verify driver) built the session without
    them: UTC event-time semantics, and nanos-as-long parquet reads (the
    testdata stores TIMESTAMP(NANOS), which Spark otherwise rejects)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# (session-identity, checkpoint dir, sf_dir, table) -> loaded DataFrame.
# DataFrames are immutable lazy plans, so sharing one per table avoids
# re-listing files, re-reading parquet footers and re-validating the schema
# on every query — the analog of a catalog holding resolved table metadata.
#
# The session identity is (applicationId, startTime) — stable for the life of
# the SparkContext and never reused, unlike id(spark): CPython can hand a new
# session the id() of a garbage-collected one, which would serve DataFrames
# bound to a dead JVM session.  Entries from other (dead) sessions are purged
# whenever a new session shows up, so the cache cannot grow across restarts.
# The checkpoint directory is part of the key because a small heavy table
# is staged in the session's checkpoint mode: a reliable run must not read
# blocks staged in local mode (see _parallelize_small_heavy_scan).
_TABLE_CACHE: dict[tuple[tuple[str, int], str | None, str, str], DataFrame] = {}


def _session_identity(spark: SparkSession) -> tuple[str, int]:
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def load_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Columnar scan of one table; column selection enforces the declared
    schema order so downstream plans are stable.

    The driver testdata stores timestamps as parquet TIMESTAMP(NANOS), which
    Spark reads as nanosecond longs (``spark.sql.legacy.parquet.nanosAsLong``);
    we convert those to microsecond timestamps here (the values are
    microsecond-grain, so the truncation is lossless and matches DuckDB's
    ns→us view of the same files)."""
    ident = _session_identity(spark)
    key = (ident, spark.sparkContext.getCheckpointDir(), sf_dir, table)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    stale = [k for k in _TABLE_CACHE if k[0] != ident]
    for k in stale:
        del _TABLE_CACHE[k]
    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    actual = {f.name: f.dataType for f in df.schema.fields}
    for field in SCHEMAS[table].fields:
        if isinstance(field.dataType, T.TimestampType):
            if isinstance(actual.get(field.name), T.LongType):
                # nanos long → micros timestamp; integer div (ns ≈ 1.7e18
                # exceeds double precision, so no float math here)
                df = df.withColumn(
                    field.name, F.expr(f"timestamp_micros({field.name} div 1000)")
                )
            elif isinstance(actual.get(field.name), T.TimestampNTZType):
                # session TZ is pinned to UTC, so NTZ→TZ is the identity
                df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    validate_schema(df, table)
    out = df.select(*[f.name for f in SCHEMAS[table].fields])
    out = _parallelize_small_heavy_scan(spark, out, f"{sf_dir}/{table}.parquet", table)
    _TABLE_CACHE[key] = out
    return out


# tables whose downstream work is dominated by per-row EXPRESSION cost
# (tokenize/shingle/hash over text; 64-dim vector folds) rather than scan
# cost — the only ones where a small-file scan is worth a repartition
_HEAVY_ROW_TABLES = {"documents", "embeddings"}


def _parallelize_small_heavy_scan(
    spark: SparkSession, df: DataFrame, path: str, table: str
) -> DataFrame:
    """Spread a SMALL scan of a CPU-heavy table across the cluster.

    A parquet file under ``maxPartitionBytes`` (or with one row group) is
    one un-splittable task, so every per-row-expensive operator over it —
    shingling, MinHash, cosine folds — runs on ONE core no matter how many
    the cluster has (measured: the Gopher quality battery at sf0.1 ran
    4.2 s single-task vs 0.5 s across 32).  A bare ``repartition`` is not
    enough: Catalyst pushes deterministic filters and projections BELOW
    the exchange, so the expensive expressions land back on the one-task
    scan.  Instead the small table is spread and MATERIALIZED once per
    session (``materialize``): the checkpointed rows are a plan barrier, every consumer computes above the parallel layout, and the
    per-session table cache amortizes the one-time cost across all
    queries — the behavior a genuinely multi-split lake table would give.
    Parquet filter pushdown is forfeited for these two tables; their
    predicates (modulo tests, id probes over a full-scan corpus) don't
    prune row groups anyway, and the trade only ever applies at toy file
    sizes.

    At real scale this is a NO-OP by construction: a 100 TB corpus scans
    as ~800k splits, far above any cluster's parallelism, so the guard
    (estimated splits < defaultParallelism) never fires and no shuffle or
    materialization is added."""
    if table not in _HEAVY_ROW_TABLES:
        return df
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b").rstrip("b"))
    target = spark.sparkContext.defaultParallelism
    est_splits = max(1, size // max(max_split, 1))
    if est_splits >= target:
        return df
    return materialize(df.repartition(target))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too."""
    for t, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(t)


def register_query_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose EVERY registry query as a temp view, so the whole engine
    surface is reachable from plain SQL — ``spark.sql("SELECT * FROM
    q04_volume_by_nation WHERE ...")`` — the way the reference's users
    (psql / Snowflake worksheets) actually work.  Views are lazy plans:
    nothing executes until queried, further predicates/projections
    compose into the view's plan, and Catalyst optimizes across the view
    boundary (a filter above the view reaches the scans below it).

    The eager iterative queries (connected components, the curation
    pipeline) EXECUTE while their plan is built, so they are skipped here
    and listed in the return value's complement; materialize those
    explicitly instead of hiding minutes of compute behind a SELECT.
    Returns the registered view names."""
    from .queries import REGISTRY, _load_all

    _load_all()
    eager = {"neardup_components_canonical", "curation_pipeline_end2end"}
    out = []
    for name, spec in REGISTRY.items():
        if name in eager:
            continue
        spec.fn(spark, sf_dir).createOrReplaceTempView(name)
        out.append(name)
    return out

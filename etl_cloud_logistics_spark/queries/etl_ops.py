"""ETL / dimensional-machinery queries (SURVEY.md §2.1, §2.3 J7-J10, §2.4 A9,
§2.8 F15/F18/F21; build-plan Milestone 3).

Each query binds a reusable operator from ``..operators`` to the testdata and
pairs it with a DuckDB oracle that re-derives the expected result
analytically — so the SCD2/as-of/QA algorithms are differential-tested, not
just smoke-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import sum_exact
from ..operators.asof import asof_join
from ..operators.dims import generate_dim_date, generate_dim_time
from ..operators.quality import zscore_stats
from ..operators.scd2 import scd2_apply
from . import register

SCD_T0 = "2000-01-01"  # initial dimension load date
SCD_T1 = "2001-01-01"  # effective date of the merge under test


def _scd2_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Deterministic SCD2 fixture derived from the customer dim:
    - current dimension: every customer, one open version as of SCD_T0;
    - staging extract: acctbal bumped +100 for custkey%10==0 (changed rows),
      plus brand-new keys custkey+1000000 for custkey%97==0."""
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    current = customer.select(
        "*",
        F.lit(SCD_T0).cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    staging = customer.withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100).otherwise(
            F.col("c_acctbal")
        ),
    ).unionByName(
        customer.filter(F.col("c_custkey") % 97 == 0).select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            F.concat(F.lit("NEW_"), F.col("c_name")).alias("c_name"),
            "c_acctbal",
            "c_mktsegment",
        )
    )
    return current, staging


@register(
    "scd2_merge_customers",
    oracle=f"""
    -- analytic expectation of the SCD2 merge (ref etl_pipeline.py:1044-1084)
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
           DATE '{SCD_T0}' AS valid_from, CAST(NULL AS DATE) AS valid_to,
           TRUE AS is_current
    FROM customer WHERE c_custkey % 10 <> 0
    UNION ALL   -- closed old versions of changed keys
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
           DATE '{SCD_T0}', DATE '{SCD_T1}', FALSE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL   -- new open versions of changed keys
    SELECT c_custkey, c_name, c_acctbal + 100, c_mktsegment,
           DATE '{SCD_T1}', NULL, TRUE
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL   -- brand-new keys
    SELECT c_custkey + 1000000, 'NEW_' || c_name, c_acctbal, c_mktsegment,
           DATE '{SCD_T1}', NULL, TRUE
    FROM customer WHERE c_custkey % 97 = 0
    """,
)
def scd2_merge_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 merge (J8/J9) as a DataFrame algorithm — close changed
    versions, insert successors and brand-new keys.  The reference generates
    the equivalent Snowflake MERGE but never executes it
    (etl_pipeline.py:1087-1090); this is the completed operator."""
    current, staging = _scd2_frames(spark, sf_dir)
    return scd2_apply(
        current,
        staging,
        keys=["c_custkey"],
        tracked=["c_name", "c_acctbal", "c_mktsegment"],
        effective_date=SCD_T1,
    )


@register(
    "anti_join_new_dates",
    # r11 rotation: promoted BACK into the driver window (VERDICT r10 #1 —
    # J7's canonical NOT-EXISTS form had never been driver-exposed; q22
    # keeps the correlated variant)
    oracle="""
    SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM orders f
        WHERE f.o_orderstatus = 'F'
          AND CAST(f.o_orderdate AS DATE) = CAST(o.o_orderdate AS DATE)
    )
    """,
)
def anti_join_new_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-dimension anti-join (J7): dates present in the staging
    extract but missing from the already-loaded dimension (ref
    etl_pipeline.py:1001-1010's NOT EXISTS insert into DIM_DATE).
    Scale: both sides pre-aggregate to distinct dates before the anti-join,
    so the shuffle is O(distinct dates), not O(fact)."""
    orders = load_table(spark, sf_dir, "orders")
    staging_dates = orders.select(
        F.to_date("o_orderdate").alias("order_date")
    ).distinct()
    existing = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.to_date("o_orderdate").alias("order_date"))
        .distinct()
    )
    return staging_dates.join(existing, "order_date", "left_anti")


@register(
    "asof_last_signup",
    # r9 window rotation: promoted back INTO the driver window — J10's
    # as-of half takes over the external slot from order_window_overlaps
    # (range half, 5 green driver rounds, stays CI-exact-gated)
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           s.event_id AS asof_event_id, s.value AS asof_value
    FROM events e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
)
def asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J10): attach each event's most recent prior signup.
    Implemented with the union-and-window operator (one shuffle on user_id),
    verified against DuckDB's native ASOF JOIN."""
    events = load_table(spark, sf_dir, "events")
    left = events.select("event_id", "user_id", "ts")
    right = events.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload=["event_id", "value"],
    )


@register(
    "zscore_outlier_gate",
    oracle="""
    WITH s AS (
        SELECT COUNT(l_extendedprice) AS n,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM lineitem
    ), st AS (
        SELECT n, sx / n AS mean, sqrt((sxx - sx * sx / n) / (n - 1)) AS std FROM s
    )
    SELECT st.n AS n_rows,
           COUNT(CASE WHEN abs((l.l_extendedprice - st.mean) / st.std) > 3
                      THEN 1 END) AS n_outliers,
           ROUND(st.mean, 2) AS mean_price,
           ROUND(st.std, 2) AS std_price
    FROM lineitem l, st
    GROUP BY st.n, st.mean, st.std
    """,
    extra=True,  # r8 window rotation: A9/F21's driver coverage moves to the
    # promoted siblings mad_outlier_gate (robust form) and
    # rolling_zscore_anomalies (time-series form); this mean/std gate was
    # driver-green r3-r7 and stays CI-exact-gated.
)
def zscore_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier gate (A9/F21, ref etl_pipeline.py:313-322): global
    mean/std from decimal-exact sums, |z|>3 counted via a broadcast of the
    one-row stats — two linear passes over the fact, no wide shuffle."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    stats = zscore_stats(lineitem, "l_extendedprice")
    z = (F.col("l_extendedprice") - F.col("mean")) / F.col("std")
    return (
        lineitem.crossJoin(F.broadcast(stats))
        .groupBy("n", "mean", "std")
        .agg(F.count(F.when(F.abs(z) > 3, 1)).alias("n_outliers"))
        .select(
            F.col("n").alias("n_rows"),
            "n_outliers",
            F.round("mean", 2).alias("mean_price"),
            F.round("std", 2).alias("std_price"),
        )
    )


@register(
    "dim_date_generate",
    oracle="""
    SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
           CAST(d AS DATE) AS full_date,
           CAST(year(d) AS INT) AS year,
           CAST(quarter(d) AS INT) AS quarter,
           CAST(month(d) AS INT) AS month,
           CAST(day(d) AS INT) AS day,
           CAST(dayofweek(d) AS BIGINT) AS day_of_week,
           dayname(d) AS day_name,
           monthname(d) AS month_name,
           dayofweek(d) IN (0, 6) AS is_weekend,
           day(d) = 1 AS is_month_start,
           CAST(d AS DATE) = last_day(CAST(d AS DATE)) AS is_month_end
    FROM generate_series(DATE '1995-01-01', DATE '1996-12-31', INTERVAL 1 DAY) t(d)
    """,
    extra=True,  # driver row carried by dim_datetime_generate (superset grid)
)
def dim_date_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar dimension via F.sequence+explode — distributed, replacing the
    reference's driver-side pandas date_range loop (etl_pipeline.py:337-361)."""
    return generate_dim_date(spark, "1995-01-01", "1996-12-31")


@register(
    "dim_time_generate",
    oracle="""
    SELECT CAST(m // 60 * 100 + m % 60 AS INT) AS time_key,
           CAST(m // 60 AS INT) AS hour,
           CAST(m % 60 AS INT) AS minute,
           CASE WHEN m // 60 < 12 THEN 'AM' ELSE 'PM' END AS am_pm,
           CASE WHEN m // 60 BETWEEN 6 AND 11 THEN 'morning'
                WHEN m // 60 BETWEEN 12 AND 17 THEN 'afternoon'
                WHEN m // 60 BETWEEN 18 AND 21 THEN 'evening'
                ELSE 'night' END AS day_part
    FROM range(0, 1440, 15) t(m)
    """,
    extra=True,  # driver row carried by dim_datetime_generate (superset grid)
)
def dim_time_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """96-row 15-minute-grain time dimension (ref 04_dimensional_model.sql:
    39-50)."""
    return generate_dim_time(spark)


@register(
    "dim_datetime_generate",
    extra=True,  # r5: rotated OUT of the driver window (>=3 green rounds)
    oracle="""
    WITH dd AS (
        SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
               CAST(d AS DATE) AS full_date,
               CAST(year(d) AS INT) AS year,
               CAST(month(d) AS INT) AS month,
               CAST(dayofweek(d) AS BIGINT) AS day_of_week,
               dayofweek(d) IN (0, 6) AS is_weekend
        FROM generate_series(DATE '1998-01-01', DATE '1998-03-31', INTERVAL 1 DAY) t(d)
    ), dt AS (
        SELECT CAST(m // 60 * 100 + m % 60 AS INT) AS time_key,
               CAST(m // 60 AS INT) AS hour,
               CAST(m % 60 AS INT) AS minute,
               CASE WHEN m // 60 BETWEEN 6 AND 11 THEN 'morning'
                    WHEN m // 60 BETWEEN 12 AND 17 THEN 'afternoon'
                    WHEN m // 60 BETWEEN 18 AND 21 THEN 'evening'
                    ELSE 'night' END AS day_part
        FROM range(0, 1440, 15) t(m)
    )
    SELECT CAST(date_key AS BIGINT) * 10000 + time_key AS datetime_key,
           date_key, full_date, year, month, day_of_week, is_weekend,
           time_key, hour, minute, day_part
    FROM dd, dt
    """,
)
def dim_datetime_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both generated dimensions in one covering query (ref DIM_DATE
    etl_pipeline.py:337-361 + DIM_TIME 04_dimensional_model.sql:39-50): the
    quarter's calendar crossed with the 96-row 15-minute grid — the
    datetime-grain dimension a sub-daily fact joins to.  Two F.sequence
    generators and a broadcast cross join of dimension-sized frames; nothing
    touches the driver."""
    dd = generate_dim_date(spark, "1998-01-01", "1998-03-31").select(
        "date_key", "full_date", "year", "month", "day_of_week", "is_weekend"
    )
    dt = generate_dim_time(spark).select("time_key", "hour", "minute", "day_part")
    return dd.crossJoin(F.broadcast(dt)).select(
        (F.col("date_key").cast("bigint") * 10000 + F.col("time_key")).alias(
            "datetime_key"
        ),
        "date_key",
        "full_date",
        "year",
        "month",
        "day_of_week",
        "is_weekend",
        "time_key",
        "hour",
        "minute",
        "day_part",
    )


@register(
    "json_extract_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
               * 1.0 / COUNT(json_extract_string(props, '$.k')) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured staging round-trip (F18, S5): parse the JSON props
    column (the VARIANT staging analog, ref etl_pipeline.py:966-974) and
    aggregate a typed field.  get_json_object is JVM-side — no UDF."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).alias("sum_k"),
            (F.sum(k) * F.lit(1.0) / F.count(k)).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@register(
    "rollup_status_priority",
    extra=True,  # r5: rotated OUT of the driver window (>=3 green rounds)
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    # r3 rotation (VERDICT r2 item 6): standalone takes the grouping-sets
    # driver row this round; grouping_sets_status_priority moves to extra
)
def rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals — the capability extension flagged in
    SURVEY.md §2.4 (the reference has no grouping sets; Spark gives them
    free).  Partial aggregation applies to every grouping set at once."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        sum_exact("o_totalprice").alias("revenue"),
    )


@register(
    "cube_status_month",
    # r10: PROMOTED to the driver window — completes the grouping family
    # (grouping sets / rollup / cube) with GROUPING() ids
    oracle="""
    SELECT CAST(GROUPING(o_orderstatus) * 2 + GROUPING(order_month) AS INTEGER)
               AS gid,
           o_orderstatus, order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM (SELECT o_orderstatus,
                 CAST(MONTH(o_orderdate) AS INTEGER) AS order_month,
                 o_totalprice
          FROM orders) o
    GROUP BY CUBE (o_orderstatus, order_month)
    """,
)
def cube_status_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE totals over status x order-month — completes the grouping-set
    family (grouping_sets_status_priority, rollup_status_priority): all
    four marginal combinations in one pass.  The explicit GROUPING()-id
    column is the part rollup doesn't exercise: it disambiguates a
    genuine NULL key from a subtotal row, which any consumer of cube
    output needs (here every key is non-null, so gid also pins that the
    two engines agree on WHICH rows are subtotals, not just their
    values).  100 TB: partial aggregation applies to every grouping set
    map-side, so the shuffle carries |groups|x4, never the fact.

    Determinism: gid cast to int both sides (Spark emits int32 already);
    revenue decimal-exact."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.month("o_orderdate").cast("int").alias("order_month"),
        "o_totalprice",
    )
    return orders.cube("o_orderstatus", "order_month").agg(
        (F.grouping("o_orderstatus") * 2 + F.grouping("order_month"))
        .cast("int")
        .alias("gid"),
        F.count("*").alias("n_orders"),
        sum_exact("o_totalprice").alias("revenue"),
    ).select("gid", "o_orderstatus", "order_month", "n_orders", "revenue")


@register(
    "set_ops_counts",
    extra=True,  # r5: rotated OUT of the driver window (>=3 green rounds)
    oracle=f"""
    SELECT 'union' AS op, COUNT(*) AS n FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    )
    UNION ALL
    SELECT 'intersect', COUNT(*) FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 2001
        INTERSECT
        SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
    )
    UNION ALL
    SELECT 'except', COUNT(*) FROM (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def set_ops_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (§2.7): UNION / INTERSECT / EXCEPT cardinalities.
    Spark's hash-based set ops shuffle once on the full row."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = customer.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    y2001 = orders.filter(F.year("o_orderdate") == 2001).select("o_custkey")
    y1995 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")

    def labeled(df: DataFrame, op: str) -> DataFrame:
        return df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")

    return (
        labeled(building.union(machinery).distinct(), "union")
        .unionByName(labeled(y2001.intersect(y1995), "intersect"))
        .unionByName(labeled(building.exceptAll(f_cust.distinct()).distinct(), "except"))
    )


@register(
    "fact_build_month",
    oracle="""
    WITH month_orders AS (
        SELECT * FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-03-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-04-01 00:00:00'
    )
    SELECT o.o_orderkey, o.o_custkey,
           CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS date_key,
           o.o_orderstatus, c.c_mktsegment, o.o_totalprice,
           COUNT(*) AS n_items,
           ROUND(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE), 2) AS net_revenue,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
    FROM month_orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2, 3, 4, 5, 6
    """,
)
def fact_build_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily pipeline's fact-build shape (pipelines.build_fact_orders,
    ref etl_pipeline.py:817-944) as an oracle-checked query: degenerate keys,
    date_key derivation, line aggregation to order grain, dimension
    attribute attach.  Scale: aggregate lineitem to order grain FIRST, then
    broadcast-join the dim — the join input is |orders|, not |lineitem|."""
    from ..functions import date_key

    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    enriched = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus", "o_totalprice")
        .agg(
            F.count("*").alias("n_items"),
            F.round(
                sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("net_revenue"),
            sum_exact("l_quantity").alias("total_qty"),
        )
    )
    return enriched.join(
        F.broadcast(customer), enriched.o_custkey == customer.c_custkey
    ).select(
        "o_orderkey",
        "o_custkey",
        date_key("o_orderdate").alias("date_key"),
        "o_orderstatus",
        "c_mktsegment",
        "o_totalprice",
        "n_items",
        "net_revenue",
        "total_qty",
    )


@register(
    "nth_last_order_date",
    oracle="""
    SELECT d AS load_date
    FROM (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
    ) t
    ORDER BY d DESC
    LIMIT 5
    """,
    extra=True,  # r4: rotated OUT of the driver window (green r1-r3); S3
    # stays CI-exact-gated here
)
def nth_last_order_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-load watermark probe (S3, ref etl_pipeline.py:140-165:
    ``SELECT DISTINCT DATE(...) ORDER BY DESC LIMIT n``) — the driver of the
    daily pipeline picks its run date from this.  Scale: distinct over the
    date only (narrow column), top-k via TakeOrderedAndProject — no full
    sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(F.to_date("o_orderdate").alias("load_date"))
        .distinct()
        .orderBy(F.desc("load_date"))
        .limit(5)
    )


@register(
    "derived_measures_scalar",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 30 MINUTE AS eta_ts,
           CAST(floor(date_diff('day', o_orderdate, TIMESTAMP '2001-09-01')
                      / 30.44) AS BIGINT) AS age_months,
           greatest(o_totalprice, 1.0) AS clipped_price,
           o_totalprice > 300000 AS is_large,
           o_orderpriority = '1-URGENT' AS is_urgent,
           ROUND(o_totalprice * 0.035 + 5.0, 2) AS handling_cost,
           ROUND(10.0 + 0.5 * o_totalprice / 1000, 2) AS est_revenue
    FROM orders
    WHERE o_orderkey % 100 = 0
    """,
    extra=True,  # r4: rotated OUT of the driver window (green in r2+r3); the
    # F-family scalars also ride every core-12 driver row
)
def derived_measures_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-function family the fact build uses (SURVEY.md §2.8 F8
    interval arithmetic, F10 months-as-days/30.44, F14 clip, F16 boolean
    derivations, F17 cost/revenue math) in one oracle-checked pass.  All
    native column expressions — whole-stage codegen, zero UDFs."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    anchor = F.lit("2001-09-01").cast("timestamp")
    days = F.datediff(F.to_date(anchor), F.to_date("o_orderdate"))
    return orders.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 MINUTES")).alias("eta_ts"),
        F.floor(days / F.lit(30.44)).alias("age_months"),
        F.greatest(F.col("o_totalprice"), F.lit(1.0)).alias("clipped_price"),
        (F.col("o_totalprice") > 300000).alias("is_large"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent"),
        F.round(F.col("o_totalprice") * 0.035 + 5.0, 2).alias("handling_cost"),
        F.round(10.0 + 0.5 * F.col("o_totalprice") / 1000, 2).alias("est_revenue"),
    )


@register(
    "histogram_order_price",
    oracle="""
    WITH b AS (
        SELECT CAST(least(floor(o_totalprice / 50000), 11) AS BIGINT) AS bucket
        FROM orders
    )
    SELECT bucket,
           CAST(bucket * 50000 AS DOUBLE) AS lo,
           CAST((bucket + 1) * 50000 AS DOUBLE) AS hi,
           COUNT(*) AS n
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    extra=True,  # profiling extra beyond SURVEY §2; dq_expectations_orders is the
    # driver-checked member of the quality family
)
def histogram_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (the profiling primitive behind the reference's
    distribution checks): bucket = floor(x/width) capped at the last bucket —
    one map + one tiny agg, no sort, no per-row UDF."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(11)).cast("bigint")
    return (
        orders.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 50000).cast("double").alias("lo"),
            ((F.col("bucket") + 1) * 50000).cast("double").alias("hi"),
            "n",
        )
        .orderBy("bucket")
    )


@register(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_custkey' AS col, COUNT(*) AS n_rows,
           COUNT(o_custkey) AS n_nonnull,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE)
    FROM orders
    ORDER BY col
    """,
    extra=True,  # profiling extra; dq_expectations_orders carries the driver row
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile summary (ANALYZE-style stats the reference ran as
    ``ANALYZE`` ×6, 03:64-69): per-column row/non-null/distinct counts and
    min/max, computed in ONE pass over the table (single agg, all columns) —
    not one scan per column like the UNIONed oracle."""
    orders = load_table(spark, sf_dir, "orders")
    one = orders.agg(
        F.count("*").alias("n_rows"),
        F.count("o_custkey").alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("double").alias("mn_ck"),
        F.max("o_custkey").cast("double").alias("mx_ck"),
        F.count("o_totalprice").alias("nn_tp"),
        F.countDistinct("o_totalprice").alias("nd_tp"),
        F.min("o_totalprice").cast("double").alias("mn_tp"),
        F.max("o_totalprice").cast("double").alias("mx_tp"),
    )
    ck = one.select(
        F.lit("o_custkey").alias("col"),
        "n_rows",
        F.col("nn_ck").alias("n_nonnull"),
        F.col("nd_ck").alias("n_distinct"),
        F.col("mn_ck").alias("min_val"),
        F.col("mx_ck").alias("max_val"),
    )
    tp = one.select(
        F.lit("o_totalprice").alias("col"),
        "n_rows",
        F.col("nn_tp").alias("n_nonnull"),
        F.col("nd_tp").alias("n_distinct"),
        F.col("mn_tp").alias("min_val"),
        F.col("mx_tp").alias("max_val"),
    )
    return ck.unionByName(tp).orderBy("col")


@register(
    "dq_expectations_orders",
    oracle="""
    WITH s AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN NOT (o_totalprice > 0) OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS v_pos,
               SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS v_null,
               SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL THEN 1 ELSE 0 END) AS v_set,
               COUNT(DISTINCT o_orderkey) AS d_key
        FROM orders
    )
    SELECT * FROM (
        SELECT 'o_totalprice_positive' AS expectation, n AS n_rows,
               CAST(v_pos AS BIGINT) AS n_violations, v_pos = 0 AS passed FROM s
        UNION ALL
        SELECT 'o_orderdate_not_null', n, CAST(v_null AS BIGINT), v_null = 0 FROM s
        UNION ALL
        SELECT 'o_orderstatus_in_set', n, CAST(v_set AS BIGINT), v_set = 0 FROM s
        UNION ALL
        SELECT 'o_orderkey_unique', n, CAST(n - d_key AS BIGINT), n = d_key FROM s
    ) ORDER BY expectation
    """,
    extra=True,  # r5: rotated OUT after three green rounds; the DQ family
    # keeps driver rows zscore_outlier_gate + ks_drift_order_prices
)
def dq_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over orders (operators.expectations):
    positivity, null, enum-membership and key-uniqueness checks — ALL
    evaluated in one aggregation pass, reported long-format."""
    from ..operators.expectations import (
        expect_in_set,
        expect_not_null,
        expect_positive,
        run_expectations,
    )

    orders = load_table(spark, sf_dir, "orders")
    return run_expectations(
        orders,
        [
            expect_positive("o_totalprice"),
            expect_not_null("o_orderdate"),
            expect_in_set("o_orderstatus", ["O", "F", "P"]),
        ],
        unique_cols=["o_orderkey"],
    )


@register(
    "group_normalize_acctbal",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           ROUND((c_acctbal - AVG(c_acctbal) OVER w) / (STDDEV_SAMP(c_acctbal) OVER w), 6) AS z
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey)
    """,
    extra=True,  # z-score family driver row carried by zscore_outlier_gate (A9/F21)
)
def group_normalize_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation z-score normalization (operators.grouped.normalize_native):
    window aggregates inside codegen — the native path of the engine's
    UDF policy; the applyInPandas twin is tested equal in unit tests."""
    from ..operators.grouped import normalize_native

    cust = load_table(spark, sf_dir, "customer")
    return normalize_native(cust, "c_nationkey", "c_acctbal").select(
        "c_custkey", "c_nationkey", "c_acctbal", F.round("z", 6).alias("z")
    )


@register(
    "mad_outlier_gate",
    extra=True,  # r11 rotation: driver-green r8-r10; A9/F21 stay covered by
    # rolling_zscore_anomalies.  CI-exact-gated here.
    oracle="""
    WITH med AS (
        SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
        FROM orders GROUP BY 1
    ),
    mad AS (
        SELECT o.o_orderpriority,
               quantile_cont(abs(o.o_totalprice - m.med), 0.5) AS mad,
               ANY_VALUE(m.med) AS med,
               CAST(COUNT(o.o_totalprice) AS BIGINT) AS n_rows
        FROM orders o JOIN med m USING (o_orderpriority)
        GROUP BY 1
    )
    SELECT o.o_orderpriority,
           d.n_rows,
           CAST(COUNT(CASE WHEN abs(ROUND(0.6745 * (o.o_totalprice - d.med)
                                          / d.mad, 4)) > 3.5
                           THEN 1 END) AS BIGINT) AS n_outliers,
           ROUND(CAST(d.med AS DOUBLE), 4) AS median_val,
           ROUND(CAST(d.mad AS DOUBLE), 4) AS mad_val
    FROM orders o JOIN mad d USING (o_orderpriority)
    GROUP BY o.o_orderpriority, d.n_rows, d.med, d.mad
    ORDER BY o.o_orderpriority
    """,
    # r8: promoted to the driver window (VERDICT r7 #2) — A9's robust
    # sibling, CI-exact-gated since r4; takes the outlier-gate slot from
    # zscore_outlier_gate (demoted to extra).
)
def mad_outlier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate (A9's breakdown-resistant sibling): per-priority
    median/MAD with the Iglewicz-Hoaglin modified z-score — the form an
    extract-time QA gate should use when the metric itself is contaminated
    by the outliers being hunted.  See operators.quality.mad_outlier_stats
    for the three-linear-pass broadcast shape."""
    from ..operators.quality import mad_outlier_stats

    orders = load_table(spark, sf_dir, "orders")
    return mad_outlier_stats(orders, "o_totalprice", "o_orderpriority")


# drift-detection split: the lake's "old" vs "new" populations
_DRIFT_CUT = "1998-01-01"


@register(
    "ks_drift_order_prices",
    extra=True,  # r10: rotated OUT of the driver window (5 green rounds
    # r5-r9; A9/quality family stays covered by mad_outlier_gate +
    # rolling_zscore_anomalies)
    oracle=f"""
    WITH t AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_CUT} 00:00:00'
                    THEN 'a' ELSE 'b' END AS side
        FROM orders
    ),
    counts AS (
        SELECT v,
               SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS c_a,
               SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS c_b
        FROM t GROUP BY v
    ),
    tot AS (
        SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
               CAST(SUM(c_b) AS BIGINT) AS n_b
        FROM counts
    ),
    cum AS (
        SELECT v, SUM(c_a) OVER (ORDER BY v) AS cum_a,
                  SUM(c_b) OVER (ORDER BY v) AS cum_b
        FROM counts
    ),
    gaps AS (
        SELECT v,
               ABS(CAST(cum_a AS DOUBLE) / (SELECT n_a FROM tot)
                   - CAST(cum_b AS DOUBLE) / (SELECT n_b FROM tot)) AS gap
        FROM cum
    )
    SELECT (SELECT MAX(gap) FROM gaps) AS ks_stat,
           (SELECT MIN(v) FROM gaps
            WHERE gap = (SELECT MAX(gap) FROM gaps)) AS at_value,
           (SELECT n_a FROM tot) AS n_a,
           (SELECT n_b FROM tot) AS n_b
    """,
)
def ks_drift_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift check on the order-price
    distribution, pre- vs post-1998 — the numeric-column gate a lake runs
    before trusting a new ingest window.  KS is chosen over PSI/KL because
    every CDF value is ONE integer/integer IEEE division (log-free →
    bit-identical across engines; see operators/drift.py).  The oracle's
    global ``SUM() OVER (ORDER BY v)`` is the one-task trap; the Spark
    side runs the distributed two-phase prefix sum."""
    from ..operators.drift import ks_statistic

    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.when(
            F.col("o_orderdate") < F.lit(_DRIFT_CUT).cast("timestamp"), "a"
        )
        .otherwise("b")
        .alias("side"),
    )
    return ks_statistic(orders, "o_totalprice", "side")


@register(
    "chi2_drift_priorities",
    oracle=f"""
    WITH t AS (
        SELECT o_orderpriority AS category,
               CASE WHEN o_orderdate < TIMESTAMP '{_DRIFT_CUT} 00:00:00'
                    THEN 'a' ELSE 'b' END AS side
        FROM orders
    ),
    counts AS (
        SELECT category,
               CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT)
                   AS obs_a,
               CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT)
                   AS obs_b
        FROM t GROUP BY category
    ),
    tot AS (
        SELECT CAST(SUM(obs_a) AS BIGINT) AS tot_a,
               CAST(SUM(obs_b) AS BIGINT) AS tot_b
        FROM counts
    )
    SELECT category, obs_a, obs_b,
           CAST(obs_a AS DOUBLE) * tot_b / tot_a AS expected_b,
           (obs_b - CAST(obs_a AS DOUBLE) * tot_b / tot_a)
               * (obs_b - CAST(obs_a AS DOUBLE) * tot_b / tot_a)
               / (CAST(obs_a AS DOUBLE) * tot_b / tot_a) AS contribution
    FROM counts, tot
    WHERE obs_a > 0
    """,
    # r11 rotation: promoted (VERDICT r10 #6 — re-verified under the
    # numeric-kind DESCRIBE gate before promotion; ks_drift rotated out r10,
    # so the drift family regains a driver row)
)
def chi2_drift_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift report for order priorities across the same
    pre-/post-1998 split: per-category χ² contributions (observed-b vs
    expected-under-a's-distribution).  Contributions are per-row fixed
    expression trees over integer counts — deterministic on any engine —
    and deliberately NOT summed (a cross-row float total would be
    accumulation-order-dependent; the handful of category rows sum
    driver-side when a scalar is wanted)."""
    from ..operators.drift import chi2_drift_report

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        F.when(
            F.col("o_orderdate") < F.lit(_DRIFT_CUT).cast("timestamp"), "a"
        )
        .otherwise("b")
        .alias("side"),
    )
    return chi2_drift_report(orders, "category", "side")


# ---------------------------------------------------------------------------
# Z-order layout key (sources/layout.py, r11) — the Morton interleave
# differential-tested bit-for-bit against SQL
# ---------------------------------------------------------------------------
def _zorder_oracle() -> str:
    """The oracle replays layout._bucket16 + layout.zorder_key verbatim:
    each dim min/max-scales to a 16-bit bucket — FLOOR before the BIGINT
    cast (Spark casts doubles by truncation, DuckDB by rounding; the
    explicit floor makes them agree), clamped to [0, 65535] — then bit i
    of column j ORs into position i*2 + j."""
    terms = []
    for i in range(16):
        terms.append(f"(((bu >> {i}) & 1) << {2 * i})")
        terms.append(f"(((bv >> {i}) & 1) << {2 * i + 1})")
    interleave = " | ".join(terms)
    return f"""
    WITH r AS (
        SELECT CAST(MIN(user_id) AS DOUBLE) AS mnu,
               CAST(MAX(user_id) AS DOUBLE) AS mxu,
               MIN(value) AS mnv, MAX(value) AS mxv
        FROM events
    ), b AS (
        SELECT event_id,
               LEAST(65535, GREATEST(0, CAST(FLOOR(
                   (CAST(user_id AS DOUBLE) - mnu) / (mxu - mnu) * 65535.0
               ) AS BIGINT))) AS bu,
               LEAST(65535, GREATEST(0, CAST(FLOOR(
                   (value - mnv) / (mxv - mnv) * 65535.0
               ) AS BIGINT))) AS bv
        FROM events, r
    )
    SELECT event_id, {interleave} AS zkey
    FROM b
    WHERE event_id % 11 = 0
    ORDER BY event_id
    """


@register(
    "zorder_key_events",
    oracle=_zorder_oracle(),
    extra=True,  # r11 engine breadth: the z-order key
    # (sources/layout.py) proven bit-for-bit against SQL; it starts in the
    # CI exact gate — a rotation candidate with the other zero-history
    # rows.
)
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-key over (user_id, value) — the key a z-ordered writer
    range-sorts files by (Bayer's UB-tree curve; Delta OPTIMIZE ZORDER
    BY's layout contract; ref 04_dimensional_model.sql:162-168 gets the
    equivalent from Snowflake micro-partition pruning).  The
    bucketize+interleave expression tree is pure codegen'd integer ops;
    this row pins the math cross-engine.  Subsampled output (1/11th) keeps
    the compare light while the min/max normalization still runs over the
    full table."""
    from ..sources.layout import zorder_key_for  # noqa: PLC0415

    events = load_table(spark, sf_dir, "events")
    key = zorder_key_for(events, ["user_id", "value"])
    return (
        events.withColumn("zkey", key)
        .filter(F.col("event_id") % 11 == 0)
        .select("event_id", "zkey")
        .orderBy("event_id")
    )

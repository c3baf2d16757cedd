"""The 12 analytical queries of the reference, re-expressed Spark-first.

Reference: ``scripts/02_queries_analysis.sql`` (PostgreSQL).  The FleetLogix
entities are mapped onto the driver testdata per FIXTURES.md §2:
routes→nation/part, vehicles/drivers→customer/supplier, trips→orders,
deliveries→lineitem, maintenance→lineitem(l_returnflag='R'), GPS→events.

Determinism: the reference's ``CURRENT_DATE - INTERVAL`` predicates become
fixed literal cutoffs; every float aggregate is decimal-exact
(``functions.sum_exact``); every LIMIT has a unique tiebreaker.

Scale notes are per-query docstrings; the common ones:
- dimension joins are broadcast (nation/customer-side ≤ O(SF·150k) rows —
  at 100 TB the dims stay broadcastable; the fact side never shuffles for them);
- aggregations are partial (map-side combine) by construction — Catalyst's
  HashAggregate(partial) → shuffle-by-group-key → HashAggregate(final);
- top-k = ORDER BY + LIMIT compiles to TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..functions import avg_exact, day_name, dow_pg, safe_div, sum_exact
from . import register

# Deterministic anchors replacing the reference's CURRENT_DATE arithmetic.
# orders span 1995-01-01 .. 2001-08-01; events span 2024-01-01 .. 2024-01-30.
CUT_30D = "2001-07-01"  # Q2  "next 30 days" analog
CUT_60D = "2001-06-01"  # Q4/Q12 "last 60 days"
CUT_90D = "2001-06-01"  # Q8  "last 90 days" (on l_shipdate)
CUT_3M = "2001-05-01"  # Q10 "last 3 months"
CUT_6M = "2001-02-01"  # Q6  "last 6 months"
DELAY_DAYS = 90  # "30 minutes late" analog on ship-vs-order dates

# Oracle SQL fragment for the decimal-exact SUM/AVG (see functions.sum_exact).
def _sumx(x: str) -> str:
    return f"CAST(SUM(CAST({x} AS DECIMAL(38,6))) AS DOUBLE)"


def _avgx(x: str) -> str:
    return f"{_sumx(x)} / COUNT({x})"


def _avgx_round2(x: str) -> str:
    """Oracle twin of ``F.round(avg_exact(x), 2)`` for non-negative ``x``:
    the exact decimal mean, rounded half-up to 2 places in integer
    arithmetic.  Spark rounds a double through its shortest decimal string,
    so a mean of exactly 0.285 gives 0.29; DuckDB's ``ROUND(double, 2)``
    scales the binary double (28.499999...) and gives 0.28."""
    micros = f"CAST(SUM(CAST({x} AS DECIMAL(38,6))) * 1000000 AS HUGEINT)"
    per_cent = f"(10000 * COUNT({x}))"
    return f"CAST((2 * {micros} + {per_cent}) // (2 * {per_cent}) AS DOUBLE) / 100"


# ---------------------------------------------------------------------------
# Q1 — fleet composition (02_queries_analysis.sql:12-17): COUNT(*) GROUP BY
# over a dimension.  Operators A1, O1.
# ---------------------------------------------------------------------------
@register(
    "q01_fleet_composition",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS cantidad
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY cantidad DESC, c_mktsegment
    """,
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment composition of the customer dim (mirrors vehicles-per-type,
    ref 02:12-17).  Scale: single partial+final hash agg on a low-cardinality
    key — no skew possible, output is dim-sized."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.groupBy("c_mktsegment")
        .agg(F.count("*").alias("cantidad"))
        .orderBy(F.desc("cantidad"), "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Q2 — expiring licenses (02:23-30): date-window filter + project + sort.
# Operators P1, P4, O1.
# ---------------------------------------------------------------------------
@register(
    "q02_expiring_window",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{CUT_30D} 00:00:00'
    ORDER BY o_orderdate, o_orderkey
    """,
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows inside a 30-day look-ahead window (mirrors license-expiry scan,
    ref 02:23-30).  Scale: pure filter+project — pushed to the parquet scan
    (PushedFilters on o_orderdate min/max rowgroup stats), zero shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderdate") >= F.lit(CUT_30D).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .orderBy("o_orderdate", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q3 — trips per status (02:36-40).  Operator A1.
# ---------------------------------------------------------------------------
@register(
    "q03_status_counts",
    oracle="""
    SELECT o_orderstatus AS status, COUNT(*) AS total_viajes
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY total_viajes DESC, status
    """,
    extra=True,  # r8 window rotation (VERDICT r7 #2): A1 (COUNT GROUP BY)
    # stays driver-covered by q01; this row was driver-green r1-r7 and now
    # frees a window slot for a CI-only operator.  Still timed in bench
    # (core-12 is the BASELINE.md unit) and CI-exact-gated here.
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order (trip) counts per status enum (ref 02:36-40)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count("*").alias("total_viajes"))
        .orderBy(F.desc("total_viajes"), "status")
    )


# ---------------------------------------------------------------------------
# Q4 — deliveries per destination city, last 60 days (02:50-60): the flagship.
# 3-way join chain + COUNT DISTINCT + SUM + date filter.  Operators J1/J2,
# A2, A3, P3, O1.
# ---------------------------------------------------------------------------
@register(
    "q04_volume_by_nation",
    oracle=f"""
    SELECT
        n.n_name,
        COUNT(DISTINCT o.o_orderkey) AS total_orders,
        COUNT(*) AS total_items,
        {_sumx('l.l_extendedprice')} AS total_revenue
    FROM nation n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '{CUT_60D} 00:00:00'
    GROUP BY n.n_name
    ORDER BY total_items DESC, n.n_name
    """,
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/line volume per nation inside a 60-day window (mirrors
    entregas-por-ciudad, ref 02:50-60).

    Scale: the date filter is pushed into the orders scan (partition/rowgroup
    pruning); nation and customer are broadcast so the only shuffle is
    lineitem⋈orders on l_orderkey plus the final tiny agg; COUNT(DISTINCT)
    runs as a 2-phase expand-aggregate that AQE sizes at runtime."""
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(CUT_60D).cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.countDistinct("o_orderkey").alias("total_orders"),
            F.count("*").alias("total_items"),
            sum_exact("l_extendedprice").alias("total_revenue"),
        )
        .orderBy(F.desc("total_items"), "n_name")
    )


# ---------------------------------------------------------------------------
# Q5 — active drivers with completed-trip counts (02:66-77): LEFT JOIN +
# conditional agg + HAVING.  Operators J3, A4, A6.
# ---------------------------------------------------------------------------
@register(
    "q05_customer_workload",
    oracle="""
    SELECT
        c.c_custkey,
        c.c_name,
        COUNT(o.o_orderkey) AS total_orders,
        COUNT(CASE WHEN o.o_orderstatus = 'F' THEN 1 END) AS completed_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY c.c_custkey, c.c_name
    HAVING COUNT(o.o_orderkey) > 0
    ORDER BY completed_orders DESC, c.c_custkey
    """,
    extra=True,  # r8 window rotation (VERDICT r7 #2): every §2 ID this row
    # carried stays driver-covered — J3 by q09, A4 by q08, A6 by q06/q07,
    # F1 by q10, F12 by q06.  Driver-green r1-r7; still timed in bench
    # (core-12) and CI-exact-gated here.
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer workload in one segment, keeping only customers with
    orders (mirrors drivers-with-trips, ref 02:66-77: LEFT JOIN + CASE-sum +
    HAVING).  Scale: segment filter prunes the dim before the join; the join
    shuffles on custkey with map-side partial counts."""
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    # r11 optimization round (guide §3.1 — pick the broadcast side
    # deliberately): the LEFT JOIN form could only hash-build its RIGHT
    # side, so the planner broadcast the orders FACT (600k rows) under the
    # small filtered dim.  The trailing HAVING total_orders > 0 makes the
    # outer join semantically INNER (null-matched customers are dropped,
    # and groups only exist where at least one order row joined), so the
    # equivalent inner join broadcasts the pruned customer dim instead and
    # the fact partial-aggregates per customer before one exchange — the
    # shape that survives 100 TB.  Output bit-identical (oracle-verified).
    return (
        orders.join(
            F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey")
        )
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("total_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("completed_orders"),
        )
        .orderBy(F.desc("completed_orders"), "c_custkey")
    )


# ---------------------------------------------------------------------------
# Q6 — productivity per driver, last 6 months (02:81-95): ratios of
# aggregates with NULLIF + HAVING on COUNT DISTINCT.  Operators A2, A5, A6.
# ---------------------------------------------------------------------------
@register(
    "q06_productivity",
    oracle=f"""
    SELECT
        c.c_custkey,
        c.c_name,
        COUNT(DISTINCT o.o_orderkey) AS total_orders,
        COUNT(*) AS total_items,
        ROUND(COUNT(*) / NULLIF(COUNT(DISTINCT o.o_orderkey), 0), 2) AS items_per_order,
        ROUND(COUNT(*) / 180.0, 2) AS items_per_day
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '{CUT_6M} 00:00:00'
      AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey, c.c_name
    HAVING COUNT(DISTINCT o.o_orderkey) >= 2
    ORDER BY items_per_order DESC, c.c_custkey
    """,
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Items-per-order productivity ratios over a 6-month window (ref
    02:81-95).  The NULLIF divide-by-zero guard is ``safe_div``."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(CUT_6M).cast("timestamp"))
        & (F.col("o_orderstatus") == "F")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    agg = (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            F.countDistinct("o_orderkey").alias("total_orders"),
            F.count("*").alias("total_items"),
        )
        .filter(F.col("total_orders") >= 2)
    )
    return agg.select(
        "c_custkey",
        "c_name",
        "total_orders",
        "total_items",
        F.round(safe_div(F.col("total_items"), F.col("total_orders")), 2).alias(
            "items_per_order"
        ),
        F.round(F.col("total_items") / F.lit(180.0), 2).alias("items_per_day"),
    ).orderBy(F.desc("items_per_order"), "c_custkey")


# ---------------------------------------------------------------------------
# Q7 — fuel per route, top-10 (02:100-116): ratio-of-aggregates + HAVING +
# top-k.  Operators A3, A5, A6, O2.
# ---------------------------------------------------------------------------
@register(
    "q07_consumption_per_part",
    oracle=f"""
    SELECT
        p.p_partkey,
        p.p_brand || ' -> ' || p.p_type AS part_desc,
        p.p_retailprice,
        COUNT(*) AS shipments,
        {_avgx('l.l_quantity')} AS avg_quantity,
        ROUND({_sumx('l.l_quantity / NULLIF(p.p_retailprice, 0)')} / COUNT(*) * 100, 2)
            AS qty_per_100_price,
        {_sumx('l.l_quantity')} AS total_quantity
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE l.l_quantity IS NOT NULL
      AND p.p_retailprice > 0
      AND l.l_linestatus = 'F'
    GROUP BY p.p_partkey, p.p_brand, p.p_type, p.p_retailprice
    HAVING COUNT(*) >= 20
    ORDER BY qty_per_100_price DESC, p.p_partkey
    LIMIT 10
    """,
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 parts by quantity-per-retail-price (mirrors fuel-per-km routes,
    ref 02:100-116, incl. the string-concat route label F1 and NULLIF A5).

    Scale: part is broadcast; ORDER BY+LIMIT compiles to
    TakeOrderedAndProject (per-partition top-k, no global sort)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_retailprice") > 0)
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull() & (F.col("l_linestatus") == "F")
    )
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "p_brand", "p_type", "p_retailprice")
        .agg(
            F.count("*").alias("shipments"),
            avg_exact("l_quantity").alias("avg_quantity"),
            F.round(
                sum_exact(F.col("l_quantity") / F.when(F.col("p_retailprice") != 0, F.col("p_retailprice")))
                / F.count("*")
                * 100,
                2,
            ).alias("qty_per_100_price"),
            sum_exact("l_quantity").alias("total_quantity"),
        )
        .filter(F.col("shipments") >= 20)
        .select(
            "p_partkey",
            F.concat_ws(" -> ", "p_brand", "p_type").alias("part_desc"),
            "p_retailprice",
            "shipments",
            "avg_quantity",
            "qty_per_100_price",
            "total_quantity",
        )
        .orderBy(F.desc("qty_per_100_price"), "p_partkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q8 — delayed deliveries by day-of-week (02:122-139): DOW bucketing with the
# Postgres convention, conditional counts, pct ratios.  Operators A4, A5,
# F3, F5, F6.
# ---------------------------------------------------------------------------
@register(
    "q08_delays_by_dow",
    oracle=f"""
    SELECT
        dayname(l.l_shipdate) AS dia_semana,
        CAST(EXTRACT(dow FROM l.l_shipdate) AS BIGINT) AS num_dia,
        COUNT(*) AS total_entregas,
        COUNT(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL {DELAY_DAYS} DAY
                   THEN 1 END) AS entregas_retrasadas,
        ROUND(100.0 * COUNT(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL {DELAY_DAYS} DAY
                                 THEN 1 END) / COUNT(*), 2) AS porcentaje_retrasos,
        ROUND({_sumx("date_diff('second', o.o_orderdate, l.l_shipdate) / 60.0")} / COUNT(*), 2)
            AS minutos_promedio_diferencia
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_linestatus = 'F'
      AND l.l_shipdate >= TIMESTAMP '{CUT_90D} 00:00:00'
    GROUP BY dia_semana, num_dia
    ORDER BY num_dia
    """,
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-shipment analysis bucketed by Postgres-convention day-of-week
    (0=Sunday; ref 02:122-139 — the three-way DOW trap of SURVEY §2.8 F5).

    Scale: one shuffle (lineitem⋈orders on orderkey), then a 7-group agg —
    partial aggregation collapses each partition to ≤7 rows pre-shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_linestatus") == "F")
        & (F.col("l_shipdate") >= F.lit(CUT_90D).cast("timestamp"))
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {DELAY_DAYS} DAYS"
    )
    delay_min = (
        F.unix_timestamp("l_shipdate") - F.unix_timestamp("o_orderdate")
    ) / F.lit(60.0)
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            day_name("l_shipdate").alias("dia_semana"),
            dow_pg("l_shipdate").alias("num_dia"),
        )
        .agg(
            F.count("*").alias("total_entregas"),
            F.count(F.when(late, 1)).alias("entregas_retrasadas"),
            F.round(
                F.lit(100.0) * F.count(F.when(late, 1)) / F.count("*"), 2
            ).alias("porcentaje_retrasos"),
            F.round(sum_exact(delay_min) / F.count("*"), 2).alias(
                "minutos_promedio_diferencia"
            ),
        )
        .orderBy("num_dia")
    )


# ---------------------------------------------------------------------------
# Q9 — maintenance cost per km by vehicle type (02:149-176): CTE + multi-way
# LEFT JOIN + two-stage re-aggregation.  Operators J3, A5, A7.
# ---------------------------------------------------------------------------
@register(
    "q09_maintenance_cost",
    oracle=f"""
    WITH trips AS (
        SELECT l_partkey,
               COUNT(*) AS total_trips,
               {_sumx('l_quantity')} AS km
        FROM lineitem WHERE l_linestatus = 'F'
        GROUP BY l_partkey
    ), maint AS (
        SELECT l_partkey,
               COUNT(*) AS maint_count,
               {_sumx('l_extendedprice')} AS maint_cost
        FROM lineitem WHERE l_returnflag = 'R'
        GROUP BY l_partkey
    ), vehicle_metrics AS (
        SELECT p.p_partkey, p.p_brand,
               COALESCE(t.total_trips, 0) AS total_trips,
               t.km, m.maint_cost, m.maint_count
        FROM part p
        LEFT JOIN trips t ON t.l_partkey = p.p_partkey
        LEFT JOIN maint m ON m.l_partkey = p.p_partkey
    )
    SELECT
        p_brand,
        COUNT(p_partkey) AS cantidad_vehiculos,
        CAST(SUM(total_trips) AS BIGINT) AS viajes_totales,
        {_sumx('km')} AS kilometros_totales,
        {_sumx('maint_cost')} AS costo_total_mantenimiento,
        ROUND({_sumx('maint_cost')} / NULLIF({_sumx('km')}, 0), 2) AS costo_por_km,
        ROUND({_sumx('maint_cost / NULLIF(maint_count, 0)')} / COUNT(maint_cost), 2)
            AS costo_promedio_por_mantenimiento
    FROM vehicle_metrics
    WHERE km > 0 AND maint_cost > 0
    GROUP BY p_brand
    ORDER BY costo_por_km DESC, p_brand
    """,
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage re-aggregation: per-part metrics CTE → re-grouped by brand
    (mirrors vehicle_metrics CTE, ref 02:149-176).

    Design deviation for scale: the reference LEFT JOINs two *row-level*
    facts onto the same dim, producing a trips×maintenance fan-out per
    vehicle that silently inflates its SUMs.  We pre-aggregate each branch
    to one row per key before joining — same operator classes (J3 left
    joins, A7 re-agg, A5 NULLIF ratios), no fan-out, and each branch's agg
    is partial/map-side.  At 100 TB the reference's shape would be a
    cartesian blow-up; this one is two shuffles + two broadcast joins."""
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    trips = (
        lineitem.filter(F.col("l_linestatus") == "F")
        .groupBy("l_partkey")
        .agg(F.count("*").alias("total_trips"), sum_exact("l_quantity").alias("km"))
    )
    maint = (
        lineitem.filter(F.col("l_returnflag") == "R")
        .groupBy("l_partkey")
        .agg(
            F.count("*").alias("maint_count"),
            sum_exact("l_extendedprice").alias("maint_cost"),
        )
    )
    metrics = (
        part.join(trips, part.p_partkey == trips.l_partkey, "left")
        .drop(trips.l_partkey)
        .join(maint, part.p_partkey == maint.l_partkey, "left")
        .drop(maint.l_partkey)
        .select(
            "p_partkey",
            "p_brand",
            F.coalesce("total_trips", F.lit(0)).alias("total_trips"),
            "km",
            "maint_cost",
            "maint_count",
        )
    )
    return (
        metrics.filter((F.col("km") > 0) & (F.col("maint_cost") > 0))
        .groupBy("p_brand")
        .agg(
            F.count("p_partkey").alias("cantidad_vehiculos"),
            F.sum("total_trips").alias("viajes_totales"),
            sum_exact("km").alias("kilometros_totales"),
            sum_exact("maint_cost").alias("costo_total_mantenimiento"),
            F.round(
                safe_div(sum_exact("maint_cost"), sum_exact("km")), 2
            ).alias("costo_por_km"),
            F.round(
                sum_exact(safe_div(F.col("maint_cost"), F.col("maint_count")))
                / F.count("maint_cost"),
                2,
            ).alias("costo_promedio_por_mantenimiento"),
        )
        .orderBy(F.desc("costo_por_km"), "p_brand")
    )


# ---------------------------------------------------------------------------
# Q10 — driver efficiency ranking (02:182-213): CTE + three RANK windows +
# composite score + top-k.  Operators W1, A2-A6, O2.
# ---------------------------------------------------------------------------
@register(
    "q10_customer_ranking",
    oracle=f"""
    WITH metricas AS (
        SELECT
            c.c_custkey,
            c.c_name AS nombre,
            COUNT(DISTINCT o.o_orderkey) AS viajes,
            COUNT(l.l_linenumber) AS entregas,
            {_sumx('l.l_quantity / NULLIF(l.l_extendedprice, 0)')}
                / COUNT(l.l_quantity) * 100 AS consumo_raw,
            COUNT(CASE WHEN l.l_shipdate <= o.o_orderdate + INTERVAL {DELAY_DAYS} DAY
                       THEN 1 END) * 100.0
                / NULLIF(COUNT(l.l_linenumber), 0) AS puntualidad_raw
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '{CUT_3M} 00:00:00'
        GROUP BY c.c_custkey, c.c_name
        HAVING COUNT(DISTINCT o.o_orderkey) >= 2
    )
    SELECT c_custkey, nombre, viajes, entregas,
        ROUND(consumo_raw, 2) AS consumo_100km,
        ROUND(puntualidad_raw, 2) AS puntualidad_pct,
        CAST(RANK() OVER (ORDER BY puntualidad_raw DESC NULLS LAST) AS INT) AS rank_puntualidad,
        CAST(RANK() OVER (ORDER BY consumo_raw ASC NULLS LAST) AS INT) AS rank_eficiencia,
        CAST(RANK() OVER (ORDER BY entregas DESC NULLS LAST) AS INT) AS rank_productividad,
        (RANK() OVER (ORDER BY puntualidad_raw DESC NULLS LAST)
         + RANK() OVER (ORDER BY consumo_raw ASC NULLS LAST)
         + RANK() OVER (ORDER BY entregas DESC NULLS LAST)) / 3.0 AS score_promedio
    FROM metricas
    ORDER BY score_promedio ASC, c_custkey
    LIMIT 20
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite customer ranking via three RANK() windows (ref 02:182-213,
    incl. the rank-tie trap of SURVEY §7(e) — ranks are computed on the
    *unrounded* metric exactly as Postgres does).

    Scale: the ranking windows are global-order (the reference has no
    PARTITION BY — SURVEY §2.5); they run on the *aggregated* set (one row
    per customer after a HAVING), which is orders-of-magnitude smaller than
    the fact.  At 100 TB one would bound the candidate set first (HAVING) —
    which this does — or rank within partitions."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(CUT_3M).cast("timestamp")
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    on_time = F.col("l_shipdate") <= F.col("o_orderdate") + F.expr(
        f"INTERVAL {DELAY_DAYS} DAYS"
    )
    # r11 optimization round (guide §3.1/§2.3 — pick the broadcast side
    # deliberately, aggregate before you shuffle): the original
    # orders LEFT JOIN lineitem could only build its hash relation from
    # the RIGHT side, so the planner broadcast the ENTIRE lineitem fact
    # (plans/r11/q10_customer_ranking_before.txt, BroadcastExchange over
    # all 5 lineitem columns) — the one side that can never broadcast at
    # scale, and the build cost that made q10 the most expensive core-12
    # row.  Equivalent decomposition with identical output:
    #
    # - viajes = COUNT(DISTINCT o_orderkey) over the left join ==
    #   COUNT(*) per customer over orders alone (o_orderkey is unique in
    #   orders; left join preserves every order) — no countDistinct
    #   expand, no lineitem involvement;
    # - the per-line aggregates come from lineitem INNER JOIN the
    #   date-filtered orders with ORDERS as the broadcast side (legal for
    #   inner joins, and the filtered order set is the small side),
    #   partially aggregated per customer before the exchange;
    # - customers whose orders have no lineitems get entregas=0 and NULL
    #   ratio metrics from the left join below — exactly what
    #   count/sum over the all-NULL line columns produced before.
    per_cust_orders = orders.groupBy(F.col("o_custkey")).agg(
        F.count(F.lit(1)).alias("viajes")
    )
    per_cust_lines = (
        lineitem.join(
            F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .groupBy("o_custkey")
        .agg(
            F.count("l_linenumber").alias("entregas"),
            (
                sum_exact(
                    F.col("l_quantity")
                    / F.when(F.col("l_extendedprice") != 0, F.col("l_extendedprice"))
                )
                / F.count("l_quantity")
                * 100
            ).alias("consumo_raw"),
            (
                F.count(F.when(on_time, 1))
                * F.lit(100.0)
                / F.when(F.count("l_linenumber") != 0, F.count("l_linenumber"))
            ).alias("puntualidad_raw"),
        )
    )
    metricas = (
        per_cust_orders.filter(F.col("viajes") >= 2)
        .join(per_cust_lines, "o_custkey", "left")
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            F.col("c_name").alias("nombre"),
            "viajes",
            F.coalesce(F.col("entregas"), F.lit(0)).alias("entregas"),
            "consumo_raw",
            "puntualidad_raw",
        )
    )
    w_punt = W.orderBy(F.desc_nulls_last("puntualidad_raw"))
    w_eff = W.orderBy(F.asc_nulls_last("consumo_raw"))
    w_prod = W.orderBy(F.desc_nulls_last("entregas"))
    ranked = metricas.select(
        "c_custkey",
        "nombre",
        "viajes",
        "entregas",
        F.round("consumo_raw", 2).alias("consumo_100km"),
        F.round("puntualidad_raw", 2).alias("puntualidad_pct"),
        F.rank().over(w_punt).alias("rank_puntualidad"),
        F.rank().over(w_eff).alias("rank_eficiencia"),
        F.rank().over(w_prod).alias("rank_productividad"),
    ).withColumn(
        "score_promedio",
        (
            F.col("rank_puntualidad") + F.col("rank_eficiencia") + F.col("rank_productividad")
        )
        / F.lit(3.0),
    )
    return ranked.orderBy(F.asc("score_promedio"), "c_custkey").limit(20)


# ---------------------------------------------------------------------------
# Q10b — the scale-safe variant of Q10's ranking (SURVEY §7-M2): ranks are
# PARTITIONed BY nation, so no single task ever materializes the global
# customer dimension.  Operator W1 at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "q10b_rank_within_nation",
    oracle=f"""
    WITH per_cust AS (
        SELECT n.n_name AS nacion,
               c.c_custkey,
               c.c_name AS nombre,
               COUNT(DISTINCT o.o_orderkey) AS viajes,
               {_sumx('o.o_totalprice')} AS ingreso_raw
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate >= TIMESTAMP '{CUT_3M} 00:00:00'
        GROUP BY n.n_name, c.c_custkey, c.c_name
    )
    SELECT nacion, c_custkey, nombre, viajes,
           ROUND(ingreso_raw, 2) AS ingreso, CAST(rank_nacional AS INT) AS rank_nacional
    FROM (
        SELECT *, RANK() OVER (PARTITION BY nacion
                               ORDER BY ingreso_raw DESC, c_custkey) AS rank_nacional
        FROM per_cust
    )
    WHERE rank_nacional <= 3
    ORDER BY nacion, rank_nacional, c_custkey
    """,
    extra=True,  # scale-safe twin of q10 (its W1 driver row); locally exact
)
def q10b_rank_within_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10's ranking, partitioned: top-3 customers by revenue WITHIN each
    nation (ref 02:182-213's ranks, scoped per SURVEY §7-M2).

    Scale (the 100 TB design note for every global-order window in this
    module): q10/q11 keep the reference's exact global-ORDER-BY semantics,
    which Spark executes in ONE task after coalescing to a single partition
    — correct, and fine there because both rank post-HAVING aggregates
    (bounded candidate sets), but NOT the shape to run over an unbounded
    dimension.  This variant is that shape: ``partitionBy(nacion)`` hash-
    distributes the window, every partition ranks independently (shuffle on
    the partition key, no coalesce-to-1 anywhere in the plan), and the
    rank<=k filter cuts before the final (tiny) presentation sort.  With a
    skewed partition key, pre-aggregate per (key, salt) and re-rank the
    per-salt survivors — the same two-stage cut topk_events_per_type uses."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(CUT_3M).cast("timestamp")
    )
    per_cust = (
        orders.join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nacion"),
            "c_custkey",
            F.col("c_name").alias("nombre"),
        )
        .agg(
            F.countDistinct("o_orderkey").alias("viajes"),
            sum_exact("o_totalprice").alias("ingreso_raw"),
        )
    )
    w = W.partitionBy("nacion").orderBy(F.desc("ingreso_raw"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rank_nacional", F.rank().over(w))
        .filter(F.col("rank_nacional") <= 3)
        .select(
            "nacion",
            "c_custkey",
            "nombre",
            "viajes",
            F.round("ingreso_raw", 2).alias("ingreso"),
            "rank_nacional",
        )
        .orderBy("nacion", "rank_nacional", "c_custkey")
    )


# ---------------------------------------------------------------------------
# Q11 — monthly trend with LAG/LEAD + moving average (02:221-244).
# Operators W2, W3, A10, F4, F7.
# ---------------------------------------------------------------------------
@register(
    "q11_monthly_trend",
    oracle=f"""
    WITH mensual AS (
        SELECT date_trunc('month', o_orderdate) AS mes,
               COUNT(*) AS total_viajes,
               {_sumx('o_totalprice')} AS peso_total,
               {_avgx_round2('o_totalprice')} AS precio_promedio_viaje
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY date_trunc('month', o_orderdate)
    )
    SELECT
        strftime(mes, '%Y-%m') AS periodo,
        total_viajes,
        LAG(total_viajes, 1) OVER (ORDER BY mes) AS viajes_mes_anterior,
        LEAD(total_viajes, 1) OVER (ORDER BY mes) AS viajes_mes_siguiente,
        total_viajes - LAG(total_viajes, 1) OVER (ORDER BY mes) AS cambio_absoluto,
        ROUND((total_viajes - LAG(total_viajes, 1) OVER (ORDER BY mes)) * 100.0
              / NULLIF(LAG(total_viajes, 1) OVER (ORDER BY mes), 0), 2) AS cambio_porcentual,
        ROUND(peso_total / 1000, 2) AS toneladas_transportadas,
        precio_promedio_viaje,
        AVG(total_viajes) OVER (ORDER BY mes ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS promedio_movil_3m
    FROM mensual
    ORDER BY mes DESC
    LIMIT 12
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month trend: LAG/LEAD deltas, % change, 3-month moving
    average (ref 02:221-244).

    Scale: the window is global-order but over ~1 row per month — the heavy
    lifting (the monthly agg) shuffles once on the truncated month key."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    mensual = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mes")
    ).agg(
        F.count("*").alias("total_viajes"),
        sum_exact("o_totalprice").alias("peso_total"),
        avg_exact("o_totalprice").alias("precio_promedio"),
    )
    w = W.orderBy("mes")
    prev = F.lag("total_viajes", 1).over(w)
    return (
        mensual.select(
            F.date_format("mes", "yyyy-MM").alias("periodo"),
            F.col("mes"),
            F.col("total_viajes"),
            prev.alias("viajes_mes_anterior"),
            F.lead("total_viajes", 1).over(w).alias("viajes_mes_siguiente"),
            (F.col("total_viajes") - prev).alias("cambio_absoluto"),
            F.round(
                (F.col("total_viajes") - prev) * F.lit(100.0) / F.when(prev != 0, prev),
                2,
            ).alias("cambio_porcentual"),
            F.round(F.col("peso_total") / 1000, 2).alias("toneladas_transportadas"),
            F.round("precio_promedio", 2).alias("precio_promedio_viaje"),
            F.avg("total_viajes")
            .over(w.rowsBetween(-2, 0))
            .alias("promedio_movil_3m"),
        )
        .orderBy(F.desc("mes"))
        .limit(12)
        .drop("mes")
    )


# ---------------------------------------------------------------------------
# Q12 — hour × day-of-week pivot (02:250-272): Spark's native pivot replaces
# the reference's 7 manual CASE columns.  Operators A11, F5, F6, P7.
# ---------------------------------------------------------------------------
_DOW_NAMES = ["domingo", "lunes", "martes", "miercoles", "jueves", "viernes", "sabado"]

@register(
    "q12_hour_dow_pivot",
    oracle="""
    WITH por_hora_dia AS (
        SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dia_semana,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hora,
               COUNT(*) AS cantidad
        FROM events
        GROUP BY 1, 2
    )
    SELECT hora,
        CAST(SUM(CASE WHEN dia_semana = 0 THEN cantidad ELSE 0 END) AS BIGINT) AS domingo,
        CAST(SUM(CASE WHEN dia_semana = 1 THEN cantidad ELSE 0 END) AS BIGINT) AS lunes,
        CAST(SUM(CASE WHEN dia_semana = 2 THEN cantidad ELSE 0 END) AS BIGINT) AS martes,
        CAST(SUM(CASE WHEN dia_semana = 3 THEN cantidad ELSE 0 END) AS BIGINT) AS miercoles,
        CAST(SUM(CASE WHEN dia_semana = 4 THEN cantidad ELSE 0 END) AS BIGINT) AS jueves,
        CAST(SUM(CASE WHEN dia_semana = 5 THEN cantidad ELSE 0 END) AS BIGINT) AS viernes,
        CAST(SUM(CASE WHEN dia_semana = 6 THEN cantidad ELSE 0 END) AS BIGINT) AS sabado,
        CAST(SUM(cantidad) AS BIGINT) AS total_semana
    FROM por_hora_dia
    WHERE hora BETWEEN 6 AND 22
    GROUP BY hora
    ORDER BY hora
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event volume pivoted hour × Postgres-DOW (ref 02:250-272).  The
    reference hand-writes 7 CASE-WHEN columns; Spark's ``pivot`` with an
    explicit value list compiles to the same single-pass conditional agg
    (no second shuffle, because the values are declared)."""
    events = load_table(spark, sf_dir, "events")
    base = (
        events.select(
            dow_pg("ts").alias("dia_semana"),
            F.hour("ts").cast("bigint").alias("hora"),
        )
        .filter(F.col("hora").between(6, 22))
        .groupBy("hora")
        .pivot("dia_semana", list(range(7)))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    renamed = base.select(
        "hora", *[F.col(str(i)).alias(n) for i, n in enumerate(_DOW_NAMES)]
    )
    total = None
    for n in _DOW_NAMES:
        total = F.col(n) if total is None else total + F.col(n)
    return renamed.withColumn("total_semana", total).orderBy("hora")

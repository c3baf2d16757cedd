"""Scalar column helpers (SURVEY.md §2.8).

Every helper is a *native* Spark column expression — JVM-side, inside
whole-stage codegen.  No Python UDFs here (the reference's pandas
``.apply`` lambdas all compile to ``F.when`` chains; see SURVEY.md §2.10).

Determinism contract with the DuckDB oracle: floating-point SUM/AVG are
order-dependent, so any aggregate the correctness gate hashes goes through
``sum_exact``/``avg_exact`` — sums are computed in DECIMAL(38,6) (exact,
associative) and only converted to double at the output edge.  The oracle
SQL mirrors the same casts, so both engines produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# exact (order-independent) numeric aggregates
# ---------------------------------------------------------------------------

_DEC = "decimal(38,6)"


def sum_exact(col: str | Column) -> Column:
    """SUM computed exactly in decimal, emitted as double.

    Oracle twin: ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double")


def avg_round_half_up(col: str | Column, count_col: Column, scale: int) -> Column:
    """ROUND(SUM(x)/n, scale) with EXACT half-up semantics for NON-NEGATIVE
    sums — computed entirely in scaled-integer space, because
    ``ROUND(double, k)`` of a quotient is NOT cross-engine stable when the
    true quotient lands exactly on a half (Spark rounds the shortest
    decimal representation of the nearest double; DuckDB scales by 10^k
    first — they disagree in BOTH directions around the boundary, found
    round 4 when report_route_totals' avg hit 232192.105 exactly).

    Math: round_half_up(S·10^k / n) = ⌊(2·S6·10^k + n·10^6) / (2·n·10^6)⌋
    with S6 = S·10^6 exact (the decimal sum is scale-6).  All terms are
    exact DECIMAL(38,0) integers; the floor division is done as
    (num − num % den) / den so no engine rounding ever touches it; the
    final quotient/10^k long→double division is IEEE-identical everywhere.

    Oracle twin (k = 2 example)::

        CAST((2 * CAST(SUM(CAST(x AS DECIMAL(38,6))) * 1000000 AS HUGEINT)
                 * 100 + COUNT(*) * 1000000)
             // (2 * COUNT(*) * 1000000) AS DOUBLE) / 100
    """
    c = F.col(col) if isinstance(col, str) else col
    return round_half_up_ratio(F.sum(c.cast(_DEC)), count_col, scale)


def round_half_up_ratio(dec_sum: Column, count_col: Column, scale: int) -> Column:
    """Row-level form of ``avg_round_half_up``: exact half-up rounding of
    ``dec_sum / n`` where ``dec_sum`` is an already-materialized
    DECIMAL(38,6) value (e.g. an incremental-maintenance partial) and the
    inputs are non-negative.  Shares the integer-space math and the oracle
    twin with the aggregate form."""
    s6 = (dec_sum * F.lit(1_000_000)).cast("decimal(38,0)")
    n = count_col.cast("decimal(38,0)")
    num = s6 * F.lit(2 * 10**scale) + n * F.lit(1_000_000)
    den = n * F.lit(2_000_000)
    q = ((num - num % den) / den).cast("long")
    return q / F.lit(10**scale)


def avg_exact(col: str | Column) -> Column:
    """AVG = exact decimal SUM / COUNT, emitted as double.

    Oracle twin:
    ``CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double") / F.count(c)


# ---------------------------------------------------------------------------
# date / time conventions (reference: PostgreSQL)
# ---------------------------------------------------------------------------


def dow_pg(col: str | Column) -> Column:
    """Day-of-week, PostgreSQL convention 0=Sunday..6=Saturday.

    Spark's ``dayofweek`` is 1=Sunday..7=Saturday (ref trap F5,
    SURVEY.md §2.8): three conventions exist between Postgres, Spark and
    pandas; we normalize on Postgres (= DuckDB ``EXTRACT(dow ...)``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (F.dayofweek(c) - F.lit(1)).cast("bigint")


def day_name(col: str | Column) -> Column:
    """English day name. Postgres ``TO_CHAR(ts,'Day')`` blank-pads to 9
    chars (ref trap F3, reference 02_queries_analysis.sql:123) — we emit the
    *trimmed* name, and the oracle uses DuckDB ``dayname()`` which agrees."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "EEEE")


def date_key(col: str | Column) -> Column:
    """yyyymmdd integer surrogate key (ref etl_pipeline.py:345,831)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, "yyyyMMdd").cast("int")


def time_key_15min(col: str | Column) -> Column:
    """15-minute-grain time key = hour*100 + (minute//15)*15
    (ref etl_pipeline.py:834-840, dim_time 04:39-50)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.hour(c) * 100 + F.floor(F.minute(c) / 15) * 15).cast("int")


# ---------------------------------------------------------------------------
# geo helpers (reference Lambda layer, 07_lambda_functions.py:94-99,173-181)
# ---------------------------------------------------------------------------


def dist_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Equirectangular approximate distance in km — the reference's
    ``sqrt(dlat² + dlon²) × 111`` (07_lambda_functions.py:94-99)."""
    return F.sqrt(F.pow(lat1 - lat2, 2) + F.pow(lon1 - lon2, 2)) * F.lit(111.0)


def min_waypoint_dist_km(lat: Column, lon: Column, waypoints: Column) -> Column:
    """Minimum distance from (lat, lon) to a list of waypoint structs
    {lat, lon} — the reference's per-event loop
    (07_lambda_functions.py:176-182) as one ``F.aggregate`` fold, fully
    JVM-side (no explode, no shuffle)."""
    return F.aggregate(
        waypoints,
        F.lit(float("inf")),
        lambda acc, w: F.least(acc, dist_km(lat, lon, w["lat"], w["lon"])),
    )


# ---------------------------------------------------------------------------
# misc scalar surface (ref F12-F17)
# ---------------------------------------------------------------------------


def safe_div(num: Column, den: Column) -> Column:
    """x / NULLIF(y, 0) — the reference's divide-by-zero guard (ref A5)."""
    return num / F.when(den != 0, den)

"""Distribution-drift detection between two populations of the same
measure — the data-quality gate a pipeline runs before trusting a new
ingest batch, retraining a model, or promoting a snapshot (did the
upstream distribution move?).

Two detectors, both chosen for CROSS-ENGINE EXACTNESS (the registry's
differential-test discipline rules out log-based divergences like
PSI/KL, whose ``ln`` differs by libm ulps between engines):

- :func:`ks_statistic` — two-sample Kolmogorov-Smirnov D over a numeric
  column: max |F_a(x) − F_b(x)| across the pooled support.  Every CDF
  value is one IEEE division of integer counts and the difference one
  subtraction — identical operand pairs give identical doubles on any
  engine.
- :func:`chi2_drift_report` — per-category (observed−expected)²/expected
  contributions for a categorical column.  Contributions are emitted
  per row and NOT summed: each row is a fixed expression tree over
  integer counts (deterministic), while a cross-row float total would be
  accumulation-order-dependent; callers needing the scalar χ² sum the
  (few) category rows themselves.

Scale shape: the KS prefix sums use the same two-phase layout as
``operators.curation.budget_select`` — a naive ``SUM() OVER (ORDER BY x)``
with no PARTITION BY is a one-task stage; here the pooled distinct values
are range-partitioned, per-partition sums are collected (bounded by
cluster size), and the cumulative window runs per partition plus a
broadcast prefix offset.  The reference's pipeline has no drift layer at
all (its quality gates are row-level expectations,
/root/reference/scripts/05_etl_pipeline/etl_pipeline.py:700-760); this is
part of the ops surface a 100 TB continuously-ingesting lake needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .checkpointing import materialize


def ks_statistic(
    df: DataFrame,
    value_col: str,
    side_col: str,
    partitions: int | None = None,
) -> DataFrame:
    """Two-sample KS statistic between the rows where ``side_col`` is
    'a' vs 'b' (exactly these two labels).  Returns ONE row:
    ``(ks_stat double, at_value double, n_a long, n_b long)`` — the max
    CDF gap, the smallest pooled value attaining it (deterministic
    tie-break), and the sample sizes.

    Implementation: per-(value, side) counts → one row per distinct
    pooled value with both side counts → distributed two-phase prefix
    sum over the value order → D = max |cum_a/n_a − cum_b/n_b|."""
    counts = (
        df.select(F.col(value_col).alias("v"), F.col(side_col).alias("side"))
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("c_a"),
            F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("c_b"),
        )
    )
    n_parts = partitions or df.sparkSession.sparkContext.defaultParallelism
    # an eager checkpoint (``materialize``), NOT persist: the two-phase
    # contract needs the SAME partition assignment in the offsets action
    # and the final window — repartitionByRange re-SAMPLES its range
    # boundaries on re-execution, so an evicted/unpersisted cache would
    # silently shift rows between partitions and corrupt every prefix
    # offset.  The checkpoint pins the materialized partitions for the
    # frame's lifetime.
    ranged = materialize(
        counts.repartitionByRange(n_parts, F.col("v").asc())
        .sortWithinPartitions(F.col("v").asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    part_sums = {
        r["_pid"]: (r["sa"], r["sb"])
        for r in ranged.groupBy("_pid")
        .agg(F.sum("c_a").alias("sa"), F.sum("c_b").alias("sb"))
        .collect()
    }
    off_a, off_b, acc_a, acc_b = {}, {}, 0, 0
    for pid in sorted(part_sums):
        off_a[pid], off_b[pid] = acc_a, acc_b
        acc_a += part_sums[pid][0]
        acc_b += part_sums[pid][1]
    n_a, n_b = max(acc_a, 1), max(acc_b, 1)

    def _off(mapping):
        if not mapping:
            return F.lit(0)
        return F.coalesce(
            F.element_at(
                F.create_map(
                    *[
                        x
                        for pid, off in mapping.items()
                        for x in (F.lit(pid), F.lit(off))
                    ]
                ),
                F.col("_pid"),
            ),
            F.lit(0),
        )

    win = (
        W.partitionBy("_pid")
        .orderBy(F.col("v").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    gaps = ranged.select(
        "v",
        (
            F.abs(
                (F.sum("c_a").over(win) + _off(off_a)).cast("double") / n_a
                - (F.sum("c_b").over(win) + _off(off_b)).cast("double")
                / n_b
            )
        ).alias("gap"),
    )
    # ONE row survives: broadcast the scalar max back and reduce to the
    # smallest attaining value — never an order-by over the full support
    # (the gap column itself stays on the executors)
    mx = gaps.agg(F.max("gap").alias("ks_stat"))
    return (
        gaps.crossJoin(F.broadcast(mx))
        .filter(F.col("gap") == F.col("ks_stat"))
        .groupBy("ks_stat")
        .agg(F.min("v").alias("at_value"))
        .select(
            "ks_stat",
            "at_value",
            F.lit(acc_a).cast("long").alias("n_a"),
            F.lit(acc_b).cast("long").alias("n_b"),
        )
    )


def chi2_drift_report(
    df: DataFrame,
    category_col: str,
    side_col: str,
) -> DataFrame:
    """Per-category χ² drift contributions between sides 'a' and 'b':
    for each category, observed b-count vs the count expected if b
    followed a's distribution (scaled to b's size).  One row per
    category: ``(category, obs_a, obs_b, expected_b double,
    contribution double)`` where contribution = (obs_b − expected_b)² /
    expected_b.  Every float is a fixed expression tree over integer
    counts — deterministic on any engine; no cross-row float sum is
    emitted (see module docstring)."""
    counts = (
        df.select(
            F.col(category_col).alias("category"),
            F.col(side_col).alias("side"),
        )
        .groupBy("category")
        .agg(
            F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("obs_a"),
            F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("obs_b"),
        )
    )
    totals = counts.agg(
        F.sum("obs_a").alias("tot_a"), F.sum("obs_b").alias("tot_b")
    )
    expected = (F.col("obs_a").cast("double") * F.col("tot_b")) / F.col("tot_a")
    return (
        counts.crossJoin(F.broadcast(totals))
        .filter(F.col("obs_a") > 0)
        .select(
            "category",
            "obs_a",
            "obs_b",
            expected.alias("expected_b"),
            (
                (F.col("obs_b") - expected) * (F.col("obs_b") - expected)
                / expected
            ).alias("contribution"),
        )
    )

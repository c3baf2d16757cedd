"""Declarative data-quality expectations (the validation-suite form of the
reference's QA practice: load-audit counts, referential/temporal/statistical
checks — SURVEY.md §5 items 1-5).

An expectation is (name, violation predicate).  ``run_expectations``
evaluates EVERY expectation in one aggregation pass over the table
(conditional counts — no per-check scan, which is what makes a 50-check
suite affordable on a 100 TB fact) and returns a long-format report:
(expectation, n_rows, n_violations, passed).

Uniqueness checks need a distinct count and ride the same single agg.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Expectation:
    """name + a Column predicate that is True for VIOLATING rows."""

    name: str
    violation: Column


def expect_not_null(col: str) -> Expectation:
    return Expectation(f"{col}_not_null", F.col(col).isNull())


def expect_positive(col: str) -> Expectation:
    return Expectation(f"{col}_positive", ~(F.col(col) > 0))


def expect_in_set(col: str, allowed: list) -> Expectation:
    return Expectation(f"{col}_in_set", ~F.col(col).isin(allowed))


def run_expectations(
    df: DataFrame,
    expectations: list[Expectation],
    unique_cols: list[str] | None = None,
) -> DataFrame:
    """One aggregation pass → long-format report, deterministic order."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, e in enumerate(expectations):
        aggs.append(
            F.sum(F.when(F.coalesce(e.violation, F.lit(True)), 1).otherwise(0)).alias(f"__v{i}")
        )
    for j, c in enumerate(unique_cols or []):
        aggs.append(F.countDistinct(c).alias(f"__d{j}"))
    row = df.agg(*aggs)

    reports = []
    for i, e in enumerate(expectations):
        reports.append(
            row.select(
                F.lit(e.name).alias("expectation"),
                F.col("__n").alias("n_rows"),
                F.col(f"__v{i}").cast("bigint").alias("n_violations"),
                (F.col(f"__v{i}") == 0).alias("passed"),
            )
        )
    for j, c in enumerate(unique_cols or []):
        reports.append(
            row.select(
                F.lit(f"{c}_unique").alias("expectation"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__d{j}")).cast("bigint").alias("n_violations"),
                (F.col("__n") == F.col(f"__d{j}")).alias("passed"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("expectation")

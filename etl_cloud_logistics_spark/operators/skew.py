"""Hot-key aggregation by explicit salting (100 TB design; SURVEY.md §4).

One key holding 1% of a 100 TB fact lands ~1 TB on a single reducer.
``salted_agg`` spreads the partial aggregation over ``n_salts`` reducers
and re-combines — valid for algebraic aggregates (sum/count/min/max),
which re-aggregate losslessly.

Hot-key JOINS need no operator here: AQE's skew-join split
(``spark.sql.adaptive.skewJoin.enabled``) beat manual hot-key salting at
every size in ``SKEW_PROBE_r09.txt`` (19.4 s vs 25.6 s at 96e6 rows).

The salt is ``pmod(hash(all cols), n)`` — no ``rand()`` — so reruns
produce identical plans and results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def _salt_col(df: DataFrame, n_salts: int) -> Column:
    """Deterministic near-uniform salt from the row's full column set."""
    return F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str] | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over (keys ⊕ salt) → keys, for algebraic
    aggregates.  Phase 1 runs on n_salts× more reducers, so no single
    reducer sees a whole hot key; phase 2 combines n_salts tiny rows/key."""
    sum_cols = sum_cols or []
    stage1 = (
        df.withColumn(_SALT, _salt_col(df, n_salts))
        .groupBy(*group_cols, _SALT)
        .agg(
            F.count("*").alias("__cnt"),
            *[F.sum(c).alias(f"__sum_{c}") for c in sum_cols],
        )
    )
    return stage1.groupBy(*group_cols).agg(
        F.sum("__cnt").alias("n_rows"),
        *[F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sum_cols],
    )


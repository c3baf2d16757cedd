"""SCD Type 2 as a pure DataFrame algorithm.

The reference generates Snowflake ``MERGE INTO … WHEN MATCHED → close old
version / WHEN NOT MATCHED → insert`` plus a second-pass insert of new
versions (``scripts/05_etl_pipeline/etl_pipeline.py:1044-1084``) — and then
leaves execution commented out (``:1087-1090``).  This module is the
completed, engine-native version: one join to classify staging rows, then a
``unionByName`` rewrite of the dimension.

Spark-first design (no Delta MERGE dependency):
- the dimension is rewritten functionally (immutable snapshots — idiomatic
  for a lake), instead of updated in place;
- one hash join on the natural key classifies rows as unchanged / changed /
  new — at 100 TB the join shuffles once on the key and AQE handles skew;
  history rows (``is_current = false``) are never touched or shuffled;
- change detection compares the tracked columns null-safely (``eqNullSafe``),
  mirroring the MERGE's ``ON pk AND is_current`` + attribute comparison.

Invariants (asserted in tests, per SURVEY.md §5):
- exactly one ``is_current`` row per natural key;
- validity windows are non-overlapping and contiguous;
- a closed row's ``valid_to`` equals its successor's ``valid_from``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VALID_FROM, VALID_TO, IS_CURRENT = "valid_from", "valid_to", "is_current"


def _any_attr_changed(tracked: list[str]) -> Column:
    cond = F.lit(False)
    for c in tracked:
        cond = cond | ~F.col(f"stg.{c}").eqNullSafe(F.col(f"cur.{c}"))
    return cond


def scd2_apply(
    current: DataFrame,
    staging: DataFrame,
    keys: list[str],
    tracked: list[str],
    effective_date: str,
) -> DataFrame:
    """Return the post-merge dimension.

    ``current``: the dimension with SCD2 columns (valid_from, valid_to,
    is_current).  ``staging``: today's extract with ``keys + tracked``
    (business columns only).  ``effective_date``: 'YYYY-MM-DD' literal — the
    reference passes the ETL run date; we take it as a parameter so runs are
    deterministic/reproducible.
    """
    eff = F.lit(effective_date).cast("date")
    attrs = [c for c in current.columns if c not in (VALID_FROM, VALID_TO, IS_CURRENT)]

    history = current.filter(~F.col(IS_CURRENT))
    open_rows = current.filter(F.col(IS_CURRENT))

    stg = staging.alias("stg")
    cur = open_rows.alias("cur")
    key_cond = F.lit(True)
    for k in keys:
        key_cond = key_cond & F.col(f"stg.{k}").eqNullSafe(F.col(f"cur.{k}"))

    joined = stg.join(cur, key_cond, "full_outer")
    in_stg = F.col(f"stg.{keys[0]}").isNotNull()
    in_cur = F.col(f"cur.{keys[0]}").isNotNull()
    changed = in_stg & in_cur & _any_attr_changed(tracked)

    # current rows that survive unchanged (incl. keys absent from staging —
    # the daily extract is incremental, absence is not a delete)
    unchanged = joined.filter(in_cur & ~changed).select(
        *[F.col(f"cur.{c}").alias(c) for c in attrs],
        F.col(f"cur.{VALID_FROM}").alias(VALID_FROM),
        F.col(f"cur.{VALID_TO}").alias(VALID_TO),
        F.col(f"cur.{IS_CURRENT}").alias(IS_CURRENT),
    )

    # MERGE matched-and-changed → close the old version (etl_pipeline.py:1053-1060)
    closed = joined.filter(changed).select(
        *[F.col(f"cur.{c}").alias(c) for c in attrs],
        F.col(f"cur.{VALID_FROM}").alias(VALID_FROM),
        eff.alias(VALID_TO),
        F.lit(False).alias(IS_CURRENT),
    )

    # second-pass insert of the new versions (etl_pipeline.py:1069-1084)
    new_versions = joined.filter(changed).select(
        *[F.col(f"stg.{c}").alias(c) for c in attrs],
        eff.alias(VALID_FROM),
        F.lit(None).cast("date").alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )

    # MERGE not-matched → brand-new keys (etl_pipeline.py:1062-1066)
    brand_new = joined.filter(in_stg & ~in_cur).select(
        *[F.col(f"stg.{c}").alias(c) for c in attrs],
        eff.alias(VALID_FROM),
        F.lit(None).cast("date").alias(VALID_TO),
        F.lit(True).alias(IS_CURRENT),
    )

    return (
        history.select(*attrs, VALID_FROM, VALID_TO, IS_CURRENT)
        .unionByName(unchanged)
        .unionByName(closed)
        .unionByName(new_versions)
        .unionByName(brand_new)
    )


def scd2_asof_lookup(
    dim: DataFrame,
    fact: DataFrame,
    keys: list[str],
    fact_ts: str,
) -> DataFrame:
    """Temporal/range join (J10): attach the dimension version valid at the
    fact's timestamp — ``fact.ts BETWEEN dim.valid_from AND dim.valid_to``
    (etl_pipeline.py:1144-1158); open versions have ``valid_to IS NULL``.

    Catalyst/AQE picks the join strategy from the dim's statistics — a
    small dimension still becomes a broadcast-hash join (the equi keys are
    extracted from the conjunction, the validity range stays as the join
    residual), while a dimension too large to ship (10^7+ natural keys ×
    versions) falls back to a sort-merge join that shuffles ONCE on the
    natural key with the range as residual — the 100 TB-safe plan.
    """
    cond = F.lit(True)
    for k in keys:
        cond = cond & (fact[k] == dim[k])
    ts = F.to_date(fact[fact_ts])
    cond = (
        cond
        & (ts >= dim[VALID_FROM])
        & ((dim[VALID_TO].isNull()) | (ts < dim[VALID_TO]))
    )
    joined = fact.join(dim, cond, "left")
    # the dim copy of each join key is redundant post-join; dropping it here
    # keeps the result unambiguous for by-name selection
    for k in keys:
        joined = joined.drop(dim[k])
    return joined

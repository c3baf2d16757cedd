"""Incremental aggregate maintenance — delta refresh of materialized
report tables.

The reference refreshes its report tables by full rebuild every pipeline
run (``/root/reference/scripts/05_etl_pipeline/etl_pipeline.py:1100-1132``
re-aggregates the whole fact table into REPORT_DRIVER_TOTALS /
REPORT_ROUTE_TOTALS).  At 100 TB a daily full re-aggregation re-reads the
entire history to fold in one day of new facts; incremental view
maintenance folds ONLY the delta into the previous aggregate state —
cost O(|delta| + |groups|), independent of history size.

The algebra: a measure is maintainable when its aggregate is a
commutative monoid over mergeable partials —

    count  ->  long partials,             merged with SUM
    sum    ->  DECIMAL(38,6) partials,    merged with SUM (decimal
               addition is associative AND exact, so incremental ==
               full-rebuild bit-for-bit; a double sum would drift with
               merge order)
    min/max -> native partials,           merged with MIN / MAX
    hll    -> Datasketches HLL sketches,  merged with hll_union_agg
               (approx COUNT DISTINCT as fixed-size mergeable state —
               exact distinct is not incrementally maintainable without
               retaining every value)

AVG and other ratios are NOT maintained directly (they don't merge);
they derive from sum/count at publish time — the same split Spark's own
partial aggregation performs inside one job, lifted across jobs.

Retractions (late deletes/updates of old facts): the reference's feed is
insert-only (``etl_pipeline.py:1100-1132``), but this module also
maintains state under deletes/updates via :func:`refresh_ops` — delta
rows carry an op sign (+1 insert, −1 retract; an update is retract-old +
insert-new), and the signed partials flow through the SAME monoid merge,
because count/sum partials form a commutative *group*: the retraction is
the additive inverse, so mixed insert/retract maintenance stays
O(|delta| + |groups|) and equals a full rebuild bit-for-bit (decimal
partials, proven in tests/test_incremental.py and the
``incremental_refresh_retractions`` oracle entry).  min/max are NOT
retractable — they form a monoid but not a group (retracting the current
minimum would need the full history to find the next one), so
:func:`refresh_ops` rejects specs containing them; keep min/max views on
the rebuild path or maintain them with an exact-percentile-style
re-aggregation of affected groups.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,6)"

_MERGE = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    # approx distinct: Datasketches HLL partials (binary) merged by sketch
    # union — commutative + associative, so incremental == full rebuild
    # gives the IDENTICAL estimate, and state per group is a fixed-size
    # sketch instead of a distinct-values set.  The 100 TB way to maintain
    # "distinct users per day/segment" without re-reading history; exact
    # COUNT(DISTINCT) is NOT incrementally maintainable without keeping
    # every value.  Not retractable (a union has no inverse) — rejected by
    # refresh_ops like min/max.
    "hll": F.hll_union_agg,
}


@dataclass(frozen=True)
class AggSpec:
    """A maintainable aggregate: grouping keys + (name, source, kind)
    measures with kind in count|sum|min|max, plus publish-time derived
    columns as (name, fn(state) -> Column)."""

    keys: list[str]
    measures: list[tuple[str, str, str]]
    derived: list[tuple[str, object]] = field(default_factory=list)

    def __post_init__(self) -> None:
        bad = [k for _, _, k in self.measures if k not in _MERGE]
        if bad:
            raise ValueError(f"unmergeable measure kinds: {bad}")


def partial_agg(delta: DataFrame, spec: AggSpec) -> DataFrame:
    """Aggregate a delta into mergeable partial state (one row per key)."""
    aggs = []
    for name, src, kind in spec.measures:
        if kind == "count":
            aggs.append(F.count(src).alias(name))
        elif kind == "sum":
            aggs.append(F.sum(F.col(src).cast(_DEC)).alias(name))
        elif kind == "hll":
            aggs.append(F.hll_sketch_agg(src).alias(name))
        else:
            aggs.append(_MERGE[kind](src).alias(name))
    return delta.groupBy(*spec.keys).agg(*aggs)


def refresh(prev: DataFrame | None, delta: DataFrame, spec: AggSpec) -> DataFrame:
    """Fold ``delta`` (raw fact rows) into the previous aggregate state.

    ``prev`` is the state produced by an earlier ``refresh`` (or None for
    the first build).  The merge re-aggregates the union of prior state
    and new partials — a shuffle keyed on the group keys whose input is
    |groups| + |delta partials| rows, never the fact history."""
    part = partial_agg(delta, spec)
    if prev is None:
        return part
    merged = prev.unionByName(part).groupBy(*spec.keys).agg(
        *[_MERGE["sum" if k == "count" else k](n).alias(n)
          for n, _, k in spec.measures]
    )
    return merged


def _require_retractable(spec: AggSpec) -> None:
    bad = [(n, k) for n, _, k in spec.measures if k not in ("count", "sum")]
    if bad:
        raise ValueError(
            f"measures not retractable (monoid but not group): {bad}; "
            "min/max state cannot absorb a compensating delta — maintain "
            "those on the rebuild path"
        )
    if spec.measures[0][2] != "count":
        raise ValueError(
            "refresh_ops needs the FIRST measure to be a count over a "
            "never-null column — it is the group-liveness counter that "
            "decides when a fully-retracted group leaves the state"
        )


def partial_agg_ops(delta: DataFrame, spec: AggSpec, op_col: str = "_op") -> DataFrame:
    """Signed partials from a delta whose rows carry ``op_col`` ∈ {+1, −1}
    (+1 insert, −1 retract).  Same output schema as :func:`partial_agg`,
    so the result merges into any existing state via the monoid merge."""
    _require_retractable(spec)
    op = F.col(op_col).cast("long")
    aggs = []
    for name, src, kind in spec.measures:
        if kind == "count":
            aggs.append(
                F.coalesce(
                    F.sum(F.when(F.col(src).isNotNull(), op)), F.lit(0).cast("long")
                ).alias(name)
            )
        else:  # sum: negate in the exact decimal domain, then the usual SUM
            aggs.append(
                F.sum((F.col(src).cast(_DEC) * op).cast(_DEC)).alias(name)
            )
    return delta.groupBy(*spec.keys).agg(*aggs)


def refresh_ops(
    prev: DataFrame | None, delta: DataFrame, spec: AggSpec, op_col: str = "_op"
) -> DataFrame:
    """Fold a mixed insert/retract delta into the previous aggregate state.

    ``delta`` rows carry ``op_col`` = +1 (insert) or −1 (retract a
    previously inserted row; an UPDATE is the retraction of the old row
    plus the insertion of the new one, in the same or a later delta).
    Cost is identical to :func:`refresh` — one partial aggregation of the
    delta plus a |groups|-sized merge; the fact history is never re-read.

    A group whose liveness count (the spec's first measure) reaches zero
    is dropped from the state, so the maintained table stays row-for-row
    equal to a full rebuild over the surviving facts.  Feeds must be
    consistent (never retract more than was inserted) — the standard IVM
    contract; an over-retracting feed leaves a negative count, which this
    filter also drops rather than publishing garbage."""
    part = partial_agg_ops(delta, spec, op_col)
    live = F.col(spec.measures[0][0]) > 0
    if prev is None:
        return part.filter(live)
    merged = prev.unionByName(part).groupBy(*spec.keys).agg(
        *[_MERGE["sum" if k == "count" else k](n).alias(n)
          for n, _, k in spec.measures]
    )
    return merged.filter(live)


def publish(state: DataFrame, spec: AggSpec) -> DataFrame:
    """Apply publish-time derived columns (ratios, roundings) to the
    mergeable state — the only place a decimal sum becomes a double."""
    out = state
    for name, fn in spec.derived:
        col = fn(out)
        assert isinstance(col, Column)
        out = out.withColumn(name, col)
    return out

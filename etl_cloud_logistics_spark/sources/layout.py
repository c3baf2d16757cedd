"""The Z-order (Morton) key for multi-dimensional clustering.

The reference gets multi-predicate locality from warehouse services —
Snowflake micro-partitions with per-partition min/max pruning
(``scripts/04_dimensional_model.sql:162-168``) and clustered index layouts
(``scripts/03_optimization_indexes.sql:15-16``).  A parquet writer gets the
same read-side effect only if it sorts rows by a key under which each file
covers a small region of the predicate space; a linear sort gives locality
on the leading column and none on the rest.  The Z-order key (the public
Delta Lake OPTIMIZE ZORDER design) interleaves the bits of the clustering
columns so a contiguous key range maps to a compact hyper-rectangle.

This module builds that key and nothing more:
- ``zorder_key_for`` min/max-scales each column to a 16-bit bucket (one
  tiny bounds agg: 2·k scalars of driver metadata) and interleaves them;
- ``zorder_key`` is the interleave itself, a static chain of shift/or
  expressions — whole-stage-codegen arithmetic, no UDF.

The registry row ``zorder_key_events`` differential-tests the key
bit-for-bit against a DuckDB oracle.  Min/max scaling wastes key bits on a
heavily skewed column (the classic z-order caveat).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BITS = 16
_MAX = (1 << _BITS) - 1


def _bucket16(col: Column, lo: Column, hi: Column) -> Column:
    """Normalize a numeric column into a 16-bit bucket [0, 65535] given its
    global bounds.  NULLs and a constant column land in bucket 0 (nulls
    cluster together at the low edge, same as a nulls-first sort)."""
    span = hi.cast("double") - lo.cast("double")
    scaled = F.floor(
        (col.cast("double") - lo.cast("double")) / span * F.lit(float(_MAX))
    )
    bucket = F.when(span > 0, F.least(F.lit(_MAX), F.greatest(F.lit(0), scaled))).otherwise(
        F.lit(0)
    )
    return F.coalesce(bucket, F.lit(0)).cast("long")


def zorder_key(buckets: list[Column]) -> Column:
    """Morton interleave of 16-bit buckets into one long: bit ``b`` of
    column ``j`` lands at position ``b * n_cols + j``.  Statically unrolled
    (16 × n_cols shift/or terms) so it runs inside whole-stage codegen."""
    n = len(buckets)
    out = F.lit(0).cast("long")
    for b in range(_BITS):
        for j, col in enumerate(buckets):
            bit = F.shiftright(col, b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * n + j))
    return out


def _numeric_form(df: DataFrame, cols: list[str]) -> dict[str, Column]:
    """Date and timestamp columns participate via their numeric day/epoch
    form; everything else as-is."""
    numeric = {}
    for c in cols:
        dt = dict(df.dtypes)[c]
        if dt == "date":
            numeric[c] = F.unix_date(F.col(c))
        elif dt.startswith("timestamp"):
            numeric[c] = F.unix_timestamp(F.col(c))
        else:
            numeric[c] = F.col(c)
    return numeric


def zorder_key_for(df: DataFrame, cols: list[str]) -> Column:
    """Build the Morton-key Column for ``cols``: each column min/max-scaled
    to 16 bits over ``df``, then interleaved."""
    if not cols:
        raise ValueError("zorder_key_for needs at least one clustering column")
    numeric = _numeric_form(df, cols)
    row = df.agg(
        *[F.min(numeric[c]).alias(f"__lo_{c}") for c in cols],
        *[F.max(numeric[c]).alias(f"__hi_{c}") for c in cols],
    ).first()
    buckets = [
        _bucket16(numeric[c], F.lit(row[f"__lo_{c}"]), F.lit(row[f"__hi_{c}"]))
        for c in cols
    ]
    return zorder_key(buckets)

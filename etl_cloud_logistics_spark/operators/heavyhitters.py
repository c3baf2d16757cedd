"""Misra-Gries heavy hitters — the frequent-items member of the mergeable-
sketch family the engine already carries (HLL for distinct counts, GK for
quantiles; Misra & Gries 1982, mergeability per Agarwal et al. 2012).

Architecture is candidate-then-verify, the same shape as the LSH dedup
paths: a one-pass bounded-memory sketch proposes a candidate superset, an
exact pass confined to the candidates emits true counts.  That makes the
OUTPUT exactly the true heavy-hitter set — oracle-checkable with plain
``HAVING count >= T`` — while memory stays k counters per partition.
Self-sizing from an absolute threshold grows k ~ n/threshold, capped at
``max_k`` (raising when the completeness bound cannot be honored at the
cap) — see :func:`heavy_hitters_exact`.

Guarantees (pytest-pinned on a Zipf stress fixture):
- per-partition state ≤ k counters, regardless of row count;
- a merged sketch undercounts any item by at most n/(k+1) (summing
  per-partition MG summaries preserves the bound), so every item with
  true count > threshold survives candidacy whenever
  ``threshold > n/(k+1)`` — the caller's sizing contract, stated rather
  than silently assumed;
- the verify pass filters to candidate items BEFORE its groupBy, so the
  second shuffle carries only candidate-key rows (≤ partitions·k distinct
  keys), not the corpus.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def mg_sketch_partials(items: DataFrame, item_col: str, k: int) -> DataFrame:
    """One Misra-Gries summary per partition, emitted as (item, cnt) rows
    (≤ k per partition).  The classic algorithm: count hits; on a miss with
    a full table, decrement every counter (dropping zeros) — each decrement
    round 'spends' k+1 occurrences, bounding total undercount by
    n/(k+1)."""

    schema = T.StructType(
        [T.StructField("item", T.StringType()), T.StructField("cnt", T.LongType())]
    )

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for x in pdf[item_col]:
                x = str(x)
                if x in counters:
                    counters[x] += 1
                elif len(counters) < k:
                    counters[x] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame(
                {"item": list(counters.keys()), "cnt": list(counters.values())}
            )

    return items.select(F.col(item_col).cast("string").alias(item_col)).mapInPandas(
        part, schema=schema
    )


def heavy_hitters_exact(
    items: DataFrame,
    item_col: str,
    threshold: int,
    *,
    max_k: int = 1 << 20,
) -> DataFrame:
    """True heavy-hitter set with EXACT counts: MG candidates → exact count
    pass over candidate-key rows only.  Correctness contract: complete iff
    ``threshold > n/(k+1)`` (n = total rows) — under that sizing no true
    heavy item can be decremented out of every partition summary.

    The contract is ENFORCED, not assumed: k self-sizes to
    ``ceil(2n/threshold)`` — it GROWS with n for a fixed absolute threshold
    (an absolute cutoff over growing data is itself a shrinking fraction),
    so it is capped at ``max_k`` and raises when the completeness bound
    cannot be honored at the cap (silent incompleteness is the one failure
    mode a candidate-then-verify design must never have)."""
    n = items.count()
    k = min(max_k, max(16, -(-2 * n // max(threshold, 1))))
    if n > 0 and threshold <= n / (k + 1):
        raise ValueError(
            f"threshold {threshold} <= n/(k+1) = {n}/{k + 1:d} — the MG "
            f"candidate set is not guaranteed complete; raise max_k or the "
            f"threshold"
        )
    partials = mg_sketch_partials(items, item_col, k)
    candidates = partials.groupBy("item").agg(F.sum("cnt").alias("est"))
    cand_keys = candidates.select(F.col("item").alias(item_col))
    exact = (
        items.select(F.col(item_col).cast("string").alias(item_col))
        .join(F.broadcast(cand_keys), item_col)
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= threshold)
    )
    return exact


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — the point-frequency
# member of the mergeable-sketch family (HLL distinct, GK quantiles, MG
# frequent items).  Unlike MG the estimate NEVER undercounts: each of
# `depth` rows hashes the item into `width` counters and the point query
# takes the MIN over its cells, so collisions only inflate.  Overcount is
# bounded by e/width × total mass with probability 1 - e^-depth.
#
# The build here is deliberately RELATIONAL and md5-derandomized: cells are
# `(row j, bucket h_j(item))` keys OR-folded by a plain groupBy-SUM, so the
# whole sketch — build AND query — replays in ANSI SQL and the oracle
# differential covers the sketch itself, not just its output contract.  At
# 100 TB the input is the term-frequency aggregate (one shuffle); the cell
# grid is depth×width rows regardless of corpus size (map-side partial
# aggregation collapses each partition to ≤ depth×width partial cells),
# and the grid broadcasts for point lookups.
# --------------------------------------------------------------------------


def _cm_bucket(j: int, item, width: int) -> F.Column:
    """Bucket of hash row ``j``: first 8 md5 hex chars of ``"cm{j}:" + item``
    read as an integer, mod width — byte-identical to the oracle's
    ``hex_prefix_bigint(md5('cm' || j || ':' || item), 8) % width``."""
    h = F.md5(F.concat(F.lit(f"cm{j}:"), item).cast("binary"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width


def cm_sketch(tf: DataFrame, item_col: str, cnt_col: str, depth: int = 4,
              width: int = 1024) -> DataFrame:
    """Build the depth×width Count-Min grid from a term-frequency frame.

    Returns ``(j, bucket, cell)`` rows — at most depth×width of them.  Input
    is the aggregated (item, count) frame rather than the raw stream so the
    corpus shuffles once (for the tf groupBy) and the sketch build fans out
    only depth rows per DISTINCT item."""
    jb = F.explode(
        F.array(*[
            F.struct(
                F.lit(j).alias("j"),
                _cm_bucket(j, F.col(item_col), width).alias("bucket"),
            )
            for j in range(depth)
        ])
    ).alias("jb")
    return (
        tf.select(F.col(cnt_col).alias("_cnt"), jb)
        .select("jb.j", "jb.bucket", "_cnt")
        .groupBy("j", "bucket")
        .agg(F.sum("_cnt").alias("cell"))
    )


def cm_lookup(cells: DataFrame, items: DataFrame, item_col: str,
              depth: int = 4, width: int = 1024) -> DataFrame:
    """Point-frequency estimates: MIN over each item's depth cells.

    ``cells`` is small (≤ depth×width rows) and broadcasts; the probe side
    fans out depth rows per item then folds back with one item-keyed
    aggregation.  The join is LEFT with missing cells coalesced to 0: a
    cell no build item hashed into holds count 0, so probing an UNSEEN
    item whose buckets are (partly) empty correctly estimates 0 rather
    than dropping the item or overstating from its occupied buckets."""
    probes = items.select(
        item_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    _cm_bucket(j, F.col(item_col), width).alias("bucket"),
                )
                for j in range(depth)
            ])
        ).alias("jb"),
    ).select(item_col, "jb.j", "jb.bucket")
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cell"), F.lit(0))).alias("cm_estimate"))
    )


"""Frequent item-pair mining (market-basket co-occurrence) — the classic
association primitive (Agrawal & Srikant 1994's Apriori, pair level) over
any (basket, item) relation: which parts ship together, which documents
share sources, which events co-fire per user.

Scale shape: the Apriori anti-monotone property — a pair cannot reach
``minsup`` unless BOTH items do — is applied as an item-support prune
BEFORE the pair join, so the per-basket self-join only sees items that can
still matter.  The join itself is equi on the basket key (co-partitioned,
one shuffle); per-basket pair fan-out is m·(m−1)/2 for basket size m,
which the prune bounds and which stays JVM-side (no explode into Python).
Counts and supports are integers; derived ratios (confidence, lift) are
emitted as UNROUNDED doubles — IEEE division of identical integer
operands is bit-identical in any engine, while ROUND(double, k) of a
ratio like 1/128 (terminating at digit 7 with a 5) hits the half-boundary
where engines legally disagree (the same trap functions.avg_round_half_up
exists for).

Reference parity: the reference has no mining layer; nearest is its
report-table co-aggregation (etl_pipeline.py report builds).  Engine
breadth for migrating retail/logistics workloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import materialize


def _mine_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    minsup: int,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared mining core: (li, item_cnt, pairs) where ``pairs`` is the
    ≥ minsup co-occurrence counts.  Eager: ``li`` checkpoints on build."""
    # the distinct'd (basket, item) projection feeds THREE consumers (item
    # supports, the pair self-join twice, the basket total); staging it
    # materializes it once instead of re-running the corpus distinct per
    # consumer — the dedup-kit reuse discipline.
    # Eager: the operator executes when built, like neardup_components.
    li = materialize(
        baskets.select(
            F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
        ).distinct()
    )
    item_cnt = li.groupBy("item").agg(F.count(F.lit(1)).alias("orders_i"))
    # Apriori prune: only items that alone reach minsup can form a pair
    frequent = item_cnt.filter(F.col("orders_i") >= minsup)
    li_f = li.join(frequent.select("item"), "item")
    a = li_f.select("basket", F.col("item").alias("item_a"))
    b = li_f.select("basket", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .filter(F.col("pair_orders") >= minsup)
    )
    return li, item_cnt, pairs


def frequent_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    minsup: int,
) -> DataFrame:
    """(item_a, item_b, pair_orders) only — the graph-construction cut of
    the miner (r7).  The full ``frequent_item_pairs`` adds per-item
    supports, confidence and lift through two key joins plus a
    basket-count aggregate; consumers that only need the EDGE LIST
    (PageRank, BFS reachability) were paying those association-rule
    statistics for columns Catalyst cannot prune away (inner joins change
    cardinality, so the optimizer must keep them).  Same pair set by
    construction."""
    return _mine_pairs(baskets, basket_col, item_col, minsup)[2]


def frequent_item_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    minsup: int,
) -> DataFrame:
    """Unordered item pairs (item_a < item_b) co-occurring in ≥ ``minsup``
    distinct baskets, with per-item supports, directional confidence
    P(b|a), and lift.  Input rows may repeat (a basket listing an item
    twice counts once)."""
    li, item_cnt, pairs = _mine_pairs(baskets, basket_col, item_col, minsup)
    n_baskets = li.select("basket").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    ca = item_cnt.select(
        F.col("item").alias("item_a"), F.col("orders_i").alias("orders_a")
    )
    cb = item_cnt.select(
        F.col("item").alias("item_b"), F.col("orders_i").alias("orders_b")
    )
    out = (
        pairs.join(ca, "item_a")
        .join(cb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    conf = F.col("pair_orders").cast("double") / F.col("orders_a")
    lift = (F.col("pair_orders").cast("double") * F.col("n_baskets")) / (
        F.col("orders_a").cast("double") * F.col("orders_b")
    )
    return out.select(
        "item_a",
        "item_b",
        "pair_orders",
        "orders_a",
        "orders_b",
        conf.alias("confidence"),
        lift.alias("lift"),
    )

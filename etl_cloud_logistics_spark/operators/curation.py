"""Training-data curation operators: benchmark decontamination,
deterministic hash-based sampling / splits, shard assignment for training
export, and sequence packing.

These extend the reference's ETL surface (which stops at warehouse
analytics — `/root/reference/scripts/05_etl_pipeline/etl_pipeline.py` ends
at the reporting fact build) with the operations a large-scale LLM
training-data pipeline layers on top of the same corpus tables.

Design rules shared by every operator here:

- **Determinism over randomness.**  Sampling, splits and shards key off
  ``md5(salt || ':' || key)`` — a pure column expression, reproducible
  across runs, engines and cluster sizes, and cheap inside whole-stage
  codegen.  ``rand()`` would be none of those (and is seed-per-partition,
  so a repartition silently reshuffles the sample).
- **Lexicographic hex thresholds.**  Keep/assign decisions compare the
  first 8 hex chars of the digest against a literal threshold *as
  strings*: lowercase-hex ordering is identical in Spark and DuckDB, so
  the oracle can spell the same predicate without any hex→int conversion
  builtin having to exist on both sides.
- **Small side broadcasts.**  Decontamination joins a ~100 TB training
  corpus against benchmark suites that are megabytes; the benchmark
  n-gram set is explicitly ``broadcast()`` so the big side never
  shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpointing import materialize
from .dedup import shingles

# fraction of the 32-bit hex space per unit of rate; rate r -> first
# FULL_SCALE * r values of the 8-hex-digit prefix
_FULL_SCALE = 16**8


def hash_key(col, salt: str):
    """Deterministic salted digest of a key column: ``md5('<salt>:' || key)``.

    The salt namespaces independent decisions (split vs sample vs shard) so
    they are statistically independent even on the same key — without it,
    e.g. "val split" and "10% sample" would select the same rows.
    """
    return F.md5(F.concat(F.lit(salt + ":"), F.col(col).cast("string")).cast("binary"))


def _hex_threshold(rate: float) -> str:
    """8-hex-digit lexicographic threshold covering ``rate`` of key space."""
    if not 0.0 <= rate < 1.0:
        raise ValueError(f"rate must be in [0, 1): {rate}")
    return format(int(rate * _FULL_SCALE), "08x")


def hash_prefix(col, salt: str):
    """First 8 hex chars of the salted digest — the comparison key for
    threshold sampling (uniform over the key space)."""
    return F.substring(hash_key(col, salt), 1, 8)


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap)
# ---------------------------------------------------------------------------


def contaminated_docs(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Training documents sharing at least one word ``n``-gram with any
    benchmark document — the standard n-gram-collision decontamination
    check run before an eval suite's contents can leak into training data.

    Returns one row per contaminated training doc:
    ``(id_col, n_hit_grams, n_bench_docs)`` — how many distinct grams
    collide and how many distinct benchmark docs they touch.

    Scale shape: the benchmark side is small by nature (eval suites are
    MB against a 100 TB corpus), so its gram set is broadcast — the
    training side's grams stream through a broadcast hash join with no
    shuffle of the big side; the only wide exchange is the final
    per-training-doc aggregation, keyed on ``id_col``.
    """
    train_grams = shingles(train, id_col, text_col, n)
    bench_grams = (
        shingles(bench, id_col, text_col, n)
        .withColumnRenamed(id_col, "bench_id")
    )
    hits = train_grams.join(F.broadcast(bench_grams), "s")
    return hits.groupBy(id_col).agg(
        F.countDistinct("s").alias("n_hit_grams"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )


# ---------------------------------------------------------------------------
# Deterministic splits and mixture sampling
# ---------------------------------------------------------------------------


def split_assign(
    df: DataFrame,
    key_col: str,
    val: float = 0.1,
    test: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column ('train'/'val'/'test') keyed on ``key_col``.

    Keying on a GROUP column (e.g. ``source``) rather than the row id makes
    the split leakage-safe: near-duplicate rows sharing the key land in the
    same split, so val/test never contain near-copies of training rows.
    Every row with the same key gets the same assignment, on any engine,
    at any parallelism.
    """
    h = hash_prefix(key_col, salt)
    return df.withColumn(
        "split",
        F.when(h < F.lit(_hex_threshold(val)), F.lit("val"))
        .when(h < F.lit(_hex_threshold(val + test)), F.lit("test"))
        .otherwise(F.lit("train")),
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Add a ``keep_mix`` flag downsampling each ``group_col`` value to its
    target rate — domain/language reweighting toward a training mixture.

    ``rates`` maps group value -> keep rate in [0, 1]; groups absent from
    the map are dropped (an explicit mixture keeps nothing it doesn't
    name).  Rate 1.0 keeps the whole group.  The decision is a pure
    expression on ``md5(salt:key)``, so resampling is reproducible and a
    rate change from 0.3 to 0.5 *grows* the kept set monotonically
    (threshold sampling nests: the 0.3-sample is a subset of the
    0.5-sample — handy for scaling data ablations).
    """
    h = hash_prefix(key_col, salt)
    keep = F.lit(False)
    for group, rate in rates.items():
        in_group = F.col(group_col) == F.lit(group)
        flag = F.lit(True) if rate >= 1.0 else h < F.lit(_hex_threshold(rate))
        keep = F.when(in_group, flag).otherwise(keep)
    return df.withColumn("keep_mix", keep)


# ---------------------------------------------------------------------------
# Shard assignment for training export
# ---------------------------------------------------------------------------


def shard_assign(
    df: DataFrame, id_col: str = "doc_id", n_shards: int = 256, salt: str = "shard"
) -> DataFrame:
    """Add a ``shard`` column in ``[0, n_shards)`` — the deterministic
    file-shard a row belongs to in a training export.

    Hash-based (not round-robin / monotonically_increasing_id) so the
    assignment is stable under repartitioning and reruns; a sharded
    writer is then ``df.repartition('shard').write.partitionBy('shard')``
    and incremental re-exports rewrite only the shards whose rows
    changed.
    """
    prefix = F.substring(hash_key(id_col, salt), 1, 8)
    return df.withColumn(
        "shard", (F.conv(prefix, 16, 10).cast("long") % n_shards).cast("int")
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """Greedy first-fit-decreasing packing of documents into fixed
    token-budget windows (context-window packing for training export).

    Bin packing is inherently sequential, so it is scoped: rows are
    hash-bucketed (deterministically, on the salted id digest) and packing
    runs independently per bucket in an Arrow ``applyInPandas`` — each
    task packs ~corpus/n_buckets docs, so memory per task is bounded and
    the operator scales by raising ``n_buckets``.  Cross-bucket packing
    quality loss is the usual trade (FFD within a random bucket is within
    a few percent of global FFD); determinism comes from sorting each
    bucket by (-tokens, id) before packing.

    Documents longer than ``budget`` get a bin of their own with
    ``oversize = true`` — flagged for the caller to truncate/split, never
    silently dropped.

    Returns ``(id_col, n_tokens, bucket, bin_id, oversize)`` where
    ``bin_id`` is unique within its bucket.
    """
    import pandas as pd

    bucketed = df.select(id_col, tokens_col).withColumn(
        "bucket",
        (F.conv(F.substring(hash_key(id_col, "pack"), 1, 8), 16, 10).cast("long")
         % n_buckets).cast("int"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [tokens_col, id_col], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        fills: list[int] = []  # current fill per open bin
        bins, oversize = [], []
        for tok in pdf[tokens_col]:
            if tok > budget:
                bins.append(len(fills))
                fills.append(tok)
                oversize.append(True)
                continue
            # first-fit: lowest-numbered open bin with room
            for b, fill in enumerate(fills):
                if fill + tok <= budget:
                    bins.append(b)
                    fills[b] = fill + tok
                    break
            else:
                bins.append(len(fills))
                fills.append(tok)
            oversize.append(False)
        pdf["bin_id"] = pd.Series(bins, dtype="int32")
        pdf["oversize"] = pd.Series(oversize, dtype="bool")
        return pdf

    out_schema = f"{id_col} long, {tokens_col} long, bucket int, bin_id int, oversize boolean"
    return bucketed.groupBy("bucket").applyInPandas(pack, schema=out_schema)


def stratified_sample_exact(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    n_per_stratum: int,
    salt: str = "strat",
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by rank over the
    salted md5 of the key — the exact-n counterpart of ``mixture_sample``'s
    Bernoulli rates (rates give binomial-noisy stratum sizes; evaluation
    sets and ablations need exact ones).  Deterministic and engine-portable
    like every md5 decision here: the 'random' order is a hex-string sort
    any engine reproduces; ties are impossible because the digest includes
    the unique key.  Scale shape: one window hash-partitioned by the strata
    columns — never a global sort; skewed strata needing huge n would use
    the two-stage top-k of topk_events_per_type."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy(*strata_cols).orderBy(hash_key(key_col, salt), F.col(key_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def temperature_rates(
    df: DataFrame, group_col: str, alpha: float
) -> dict[str, float]:
    """Temperature-based mixture rates (the multilingual-sampling standard,
    XLM-R / mT5: sample share ∝ n_g^α): per-group Bernoulli keep rates
    ``(n_min / n_g)^(1-α)`` — the smallest group keeps everything, larger
    groups downsample so KEPT counts are proportional to n_g^α.  α=1 is
    natural proportions (all rates 1), α=0 equalizes groups, α between
    them flattens the head without starving the tail — the knob that stops
    one dominant crawl source from drowning low-resource domains.

    The per-group counts collect (bounded: one row per source/language —
    model metadata), the rates feed :func:`mixture_sample`, so decisions
    stay md5-deterministic, nested across rate changes, and
    engine-reproducible.  α=0.5 rates use ``sqrt`` explicitly so an SQL
    twin matches bit-for-bit (generic α goes through ``**`` which is libm
    ``pow`` — same result on one platform, not a cross-engine guarantee)."""
    import math

    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1]: {alpha}")
    counts = {
        r[group_col]: r["n"]
        for r in df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_min = min(counts.values())
    if alpha == 0.5:
        return {g: math.sqrt(n_min / n) for g, n in counts.items()}
    return {g: (n_min / n) ** (1.0 - alpha) for g, n in counts.items()}


# ---------------------------------------------------------------------------
# Token-budget corpus selection (scale-safe global prefix sum)
# ---------------------------------------------------------------------------


def budget_select(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    budget: int,
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Select rows in descending ``order_col`` order until the running sum of
    ``weight_col`` would exceed ``budget`` — the "best docs under an N-token
    budget" selection every data-constrained training run makes (quality
    score desc, token count as weight).

    A naive cumulative window ``SUM() OVER (ORDER BY ...)`` with no
    PARTITION BY collapses the whole corpus into ONE task — the classic
    global-prefix-sum scale trap.  This runs the textbook two-phase form
    instead:

    1. range-partition + sort by ``(order_col, id_col)`` — Spark's
       distributed sort, every partition holds a contiguous key range;
    2. one tiny aggregation of per-partition weight sums (one row per
       partition, collected to the driver — bounded by cluster size, never
       by data);
    3. per-partition cumulative window (partitioned by partition id — no
       single-task stage) plus the broadcast prefix offset of all earlier
       partitions.

    ``id_col`` must be a unique tiebreaker so the total order — and
    therefore the selected set — is deterministic.  Output: the selected
    rows with their global ``cum_weight`` (inclusive).  Rows with
    ``cum_weight > budget`` are cut; the first over-budget row is NOT
    included (strict knapsack-prefix semantics, matching the oracle's
    ``QUALIFY cum <= budget``)."""
    ordn = F.col(order_col).desc()
    n_parts = partitions or df.sparkSession.sparkContext.defaultParallelism
    # an eager checkpoint (``materialize``), NOT persist: the offsets
    # collected below are only valid for the exact partition assignment
    # they were computed from, and repartitionByRange re-SAMPLES its range
    # boundaries whenever the frame re-executes — a cache eviction (or the
    # unpersist this function used to do) would silently shift rows between
    # partitions and corrupt the prefix sums.  The checkpoint pins the
    # materialized partitions for the returned frame's lifetime; blocks or
    # files are freed by the ContextCleaner when the result goes out of
    # scope.
    ranged = materialize(
        df.repartitionByRange(n_parts, ordn, F.col(id_col).asc())
        .sortWithinPartitions(ordn, F.col(id_col).asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    # NULL weights are a data error, not a zero: SUM skips them, so the row
    # would survive the <= budget cut without paying into cum_weight (and
    # an all-NULL partition's NULL sum would TypeError the offset fold).
    # The null probe rides the same one-row-per-partition aggregation.
    part_stats = ranged.groupBy("_pid").agg(
        F.sum(weight_col).alias("w"),
        F.sum(F.when(F.col(weight_col).isNull(), 1).otherwise(0)).alias("n_null"),
    ).collect()
    n_null = sum(r["n_null"] for r in part_stats)
    if n_null:
        raise ValueError(
            f"budget_select requires non-null {weight_col!r}: {n_null} null-"
            f"weight rows would be selected without consuming budget — "
            f"filter or impute them explicitly first"
        )
    part_sums = {r["_pid"]: r["w"] if r["w"] is not None else 0 for r in part_stats}
    offsets, acc = {}, 0
    for pid in sorted(part_sums):
        offsets[pid] = acc
        acc += part_sums[pid]
    off_expr = F.coalesce(
        F.element_at(
            F.create_map(
                *[
                    x
                    for pid, off in offsets.items()
                    for x in (F.lit(pid), F.lit(off))
                ]
            ),
            F.col("_pid"),
        )
        if offsets
        else F.lit(0),
        F.lit(0),
    )
    from pyspark.sql import Window as W

    win = (
        W.partitionBy("_pid")
        .orderBy(ordn, F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    out = (
        ranged.withColumn(
            "cum_weight",
            (F.sum(weight_col).over(win) + off_expr).cast("long"),
        )
        .filter(F.col("cum_weight") <= budget)
        .drop("_pid")
    )
    return out


# ---------------------------------------------------------------------------
# Bloom-prefilter decontamination (same answer as exact, broadcast-bounded)
# ---------------------------------------------------------------------------


def contaminated_docs_bloom(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    bits_per_key: int = 10,
    n_hashes: int = 7,
) -> DataFrame:
    """Exactly :func:`contaminated_docs`, computed through a Bloom-filter
    prefilter — the 100 TB form of the bench-side broadcast.

    ``contaminated_docs`` broadcasts the benchmark's raw n-gram STRINGS:
    fine for megabyte eval suites, but a consortium-scale decontam list
    (every public benchmark + held-out sets, ~10⁸ grams) would broadcast
    tens of GB of strings.  A Bloom filter at 10 bits/key holds the same
    membership signal in n_grams×10 BITS (125 MB for 10⁸ grams — an easy
    broadcast) at ~1% false positives, and Bloom has NO false negatives,
    so:

    1. JVM-side, k=7 hash values per training gram (``xxhash64(s, i)`` —
       stays in whole-stage codegen; Python never hashes strings);
    2. one Arrow ``mapInPandas`` pass tests the k bit positions with
       vectorized numpy indexing and keeps candidate grams (~hits + 1% of
       the corpus);
    3. candidates alone take the exact broadcast-join verify, so false
       positives die and the result is BIT-IDENTICAL to the exact
       operator — same oracle SQL, stronger scale story.

    The filter is built once from the bench grams (driver-side numpy over
    the collected hash columns — bench is the small side by definition);
    the generic machinery lives in :mod:`operators.bloom` and is shared
    with :func:`operators.bloom.bloom_semi_join`."""
    from .bloom import bloom_filter_rows, build_bloom
    from .dedup import shingles as _sh

    bench_grams = (
        _sh(bench, id_col, text_col, n).withColumnRenamed(id_col, "bench_id")
    )
    model = build_bloom(
        bench_grams, "s", bits_per_key=bits_per_key, n_hashes=n_hashes
    )
    candidates = bloom_filter_rows(
        shingles(train, id_col, text_col, n), "s", model
    )
    hits = candidates.join(F.broadcast(bench_grams), "s")
    return hits.groupBy(id_col).agg(
        F.countDistinct("s").alias("n_hit_grams"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )

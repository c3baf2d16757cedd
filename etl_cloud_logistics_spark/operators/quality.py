"""Data-quality operators: z-score outlier gate and QA flags.

Reference: statistical validation at extract time (z-score outlier counts,
``etl_pipeline.py:313-322``) and the fact build's QA flags — negative
time/distance/fuel corrected to 0 and flagged, plus an overall ``qa_passed``
column (``etl_pipeline.py:851-873,918``).

Scale notes: the stats pass is a single partial-aggregate (5 numbers per
group reach the driver/broadcast); the flagging pass is a scan with a
broadcast of those stats — two linear passes, no wide shuffle of the fact.
Determinism: mean/variance come from decimal-exact Σx and Σx² (see
``functions.sum_exact``), so the oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sum_exact


def zscore_stats(df: DataFrame, col: str) -> DataFrame:
    """One-row frame: n, mean, stddev (sample), from exact sums.  The
    sample stddev is undefined below two values: ``std`` is NULL there
    (pandas gives NaN) instead of a division by zero."""
    x = F.col(col)
    return df.agg(
        F.count(x).alias("n"),
        sum_exact(x).alias("_sx"),
        sum_exact(x * x).alias("_sxx"),
    ).select(
        "n",
        (F.col("_sx") / F.col("n")).alias("mean"),
        F.when(
            F.col("n") > 1,
            F.sqrt(
                (F.col("_sxx") - F.col("_sx") * F.col("_sx") / F.col("n"))
                / (F.col("n") - 1)
            ),
        ).alias("std"),
    )


def flag_outliers(df: DataFrame, col: str, threshold: float = 3.0) -> DataFrame:
    """Attach ``zscore`` and ``is_outlier`` (|z| > threshold) via a broadcast
    of the global stats (ref etl_pipeline.py:313-322).  With no spread (one
    row, or every value equal) ``zscore`` is NULL and ``is_outlier`` false,
    as the reference's NaN z-score compares false."""
    stats = zscore_stats(df, col)
    spread = F.col("std") > 0
    z = F.when(spread, (F.col(col) - F.col("mean")) / F.col("std"))
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("zscore", z)
        .withColumn("is_outlier", F.when(spread, F.abs(z) > threshold).otherwise(False))
        .drop("n", "mean", "std")
    )


def qa_flags(
    df: DataFrame, non_negative: list[str], flag_prefix: str = "qa_flag_"
) -> DataFrame:
    """Correct negative measures to 0 and flag them; add ``qa_passed``
    (ref etl_pipeline.py:851-873,918)."""
    out = df
    flag_cols: list[str] = []
    for c in non_negative:
        fname = f"{flag_prefix}{c}"
        # materialize the flag BEFORE clamping — a later F.col(c) would see
        # the corrected value and never flag
        out = out.withColumn(fname, F.coalesce(F.col(c) < 0, F.lit(False)))
        out = out.withColumn(c, F.greatest(F.col(c), F.lit(0)))
        flag_cols.append(fname)
    cond: Column = F.lit(False)
    for fname in flag_cols:
        cond = cond | F.col(fname)
    return out.withColumn("qa_passed", ~cond)


def mad_outlier_stats(
    df: DataFrame, col: str, group_col: str, threshold: float = 3.5
) -> DataFrame:
    """Robust outlier gate via median absolute deviation (Iglewicz-Hoaglin
    modified z-score, |0.6745·(x−med)/MAD| > threshold): the z-score gate's
    breakdown-resistant sibling — a single wild value shifts mean AND std,
    masking real outliers, while the median/MAD pair has a 50% breakdown
    point.

    Three linear passes per group: exact median, exact MAD (median of
    absolute deviations), then the flag count — the per-group stats frames
    are |groups| rows and broadcast back onto the fact, so nothing wide
    ever shuffles.  Exact percentiles collect each group's values (fine at
    enum group cardinality); at high-cardinality keys swap
    ``F.percentile`` for ``approx_percentile`` with the same call shape.
    The modified z is rounded to 4 places before the threshold compare so
    both engines cut identically."""
    x = F.col(col)
    med = df.groupBy(group_col).agg(F.percentile(x, F.lit(0.5)).alias("med"))
    with_med = df.join(F.broadcast(med), group_col)
    mad = with_med.groupBy(group_col).agg(
        F.percentile(F.abs(x - F.col("med")), F.lit(0.5)).alias("mad"),
        F.first("med").alias("med"),
        F.count(x).alias("n_rows"),
    )
    mz = F.round(F.lit(0.6745) * (x - F.col("med")) / F.col("mad"), 4)
    return (
        df.join(F.broadcast(mad), group_col)
        .groupBy(group_col, "med", "mad", "n_rows")
        .agg(
            F.count(F.when(F.abs(mz) > threshold, 1)).alias("n_outliers"),
        )
        .select(
            group_col,
            "n_rows",
            "n_outliers",
            F.round("med", 4).alias("median_val"),
            F.round("mad", 4).alias("mad_val"),
        )
        .orderBy(group_col)
    )


def gopher_repetition_columns(
    df: DataFrame,
    text_col: str = "text",
    n_words_col: str = "_qg_n_words",
    rep_col: str = "_qg_rep",
) -> DataFrame:
    """Stage the MassiveText/Gopher repetition-gate inputs as real columns:
    whitespace token count (``n_words_col``, int) and repeated-3-gram
    fraction (``rep_col``, double in [0, 1]).  The SINGLE implementation
    behind ``doc_quality_battery`` and the curation pipeline's stage-1
    quality gate — a tweak here moves both in lockstep (they are documented
    as the same gate, and their DuckDB oracles replay the same arithmetic).

    Staged as columns on purpose: HOF lambdas are interpreted with no
    common-subexpression elimination, so an inline ``split()[i]`` captured
    by the gram lambda re-splits the document per gram — O(n_words²) per
    doc (PERFORMANCE.md, round 6).  Intermediates use underscore names and
    are dropped before return, so an arbitrary caller frame passes through
    with its own columns intact (output columns are caller-nameable for
    the same reason).  Name collisions fail LOUDLY: a caller column that
    matches an intermediate or an output name would be silently
    overwritten (and, for intermediates, dropped), so it raises instead."""
    ws, grams, total = "_qg_ws", "_qg_grams", "_qg_total"
    names = (ws, grams, total, n_words_col, rep_col)
    clash = [c for c in names if c in df.columns]
    if clash:
        raise ValueError(
            f"gopher_repetition_columns would overwrite existing column(s) "
            f"{clash}; rename them or pass different n_words_col/rep_col"
        )
    if len(set(names)) != len(names):
        # e.g. n_words_col == rep_col: the later withColumn would silently
        # replace the earlier output — the same failure mode as a caller
        # collision, so the same loud refusal
        raise ValueError(
            f"gopher_repetition_columns output/intermediate names collide "
            f"with each other: {sorted(n for n in names if names.count(n) > 1)}"
        )
    return (
        df.withColumn(ws, F.split(F.lower(text_col), " "))
        .withColumn(n_words_col, F.size(ws))
        .withColumn(
            grams,
            F.when(
                F.col(n_words_col) >= 3,
                F.transform(
                    F.sequence(F.lit(0), F.col(n_words_col) - 3),
                    lambda i: F.concat_ws(
                        " ", F.col(ws)[i], F.col(ws)[i + 1], F.col(ws)[i + 2]
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
        .withColumn(total, F.greatest(F.col(n_words_col) - 2, F.lit(0)))
        .withColumn(
            rep_col,
            F.when(
                F.col(total) > 0,
                (F.col(total) - F.size(F.array_distinct(grams))).cast("double")
                / F.col(total),
            ).otherwise(F.lit(0.0)),
        )
        .drop(ws, grams, total)
    )

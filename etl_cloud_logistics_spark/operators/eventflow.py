"""Event-flow analytics: ordered funnels and cohort retention.

The reference's analytics layer stops at per-entity aggregates and windows
(``scripts/02_queries_analysis.sql``); a production events warehouse adds the
two classic behavioral operators on top of the same table:

- **funnel**: how many users completed step1 → step2 → step3 in order
  (ClickHouse ``windowFunnel`` family, simplified to the strict-order,
  unbounded-window form);
- **cohort retention**: of the users first seen in week W, how many were
  active again in week W+k (the standard retention triangle).

Scale design (100 TB of events):
- the funnel is ONE shuffle on the user key: the per-user step timestamps
  are stacked window-mins over the same partitioning (Catalyst plans a
  single Exchange and chains the Window operators), then a distinct on the
  per-user row and a global roll-up whose output is |steps| rows;
- retention is two keyed aggregations (user → cohort; (cohort, offset) →
  count) joined through a broadcast of the |cohorts|-row size table —
  nothing scales with event count except the first map-side-combined agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def funnel_user_steps(
    df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-key funnel state: one row per key with the earliest completion
    timestamp of each step (``step_ts_1`` … ``step_ts_K``, null once the
    chain breaks).  Step k binds to the first event of type ``steps[k]``
    STRICTLY after the step-(k-1) completion — the stacked window-mins
    share one hash exchange on the key.  This frame is the input to the
    ``funnel_counts`` roll-up."""
    w = W.partitionBy(key_col)
    cur = df.select(key_col, type_col, ts_col)
    prev_ts = None
    step_cols = []
    for i, s in enumerate(steps):
        col = f"step_ts_{i + 1}"
        cond = F.col(type_col) == s
        if prev_ts is not None:
            cond = cond & (F.col(ts_col) > F.col(prev_ts))
        cur = cur.withColumn(col, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev_ts = col
        step_cols.append(col)
    return cur.select(key_col, *step_cols).distinct()


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Strict-order funnel: a user is at step k iff they have an event of
    type ``steps[k]`` strictly after their step-(k-1) completion time
    (earliest-completion semantics: each step binds to the first qualifying
    event, the unbounded-window form of ClickHouse ``windowFunnel``).

    Returns |steps| rows: (step_no, step_name, n_users, pct_of_first),
    where pct_of_first is the conversion rate from the funnel's entry step,
    rounded to 6 places."""
    step_cols = [f"step_ts_{i + 1}" for i in range(len(steps))]
    per_user = funnel_user_steps(df, steps, key_col, type_col, ts_col)
    counts = per_user.agg(
        *[
            F.count(F.col(c)).alias(f"n{i}")  # count skips nulls
            for i, c in enumerate(step_cols)
        ]
    )
    rows = counts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i + 1).alias("step_no"),
                        F.lit(s).alias("step_name"),
                        F.col(f"n{i}").alias("n_users"),
                        F.round(
                            F.col(f"n{i}")
                            / F.nullif(F.col("n0"), F.lit(0)),
                            6,
                        ).alias("pct_of_first"),
                    )
                    for i, s in enumerate(steps)
                ]
            )
        ).alias("r")
    )
    return rows.select("r.step_no", "r.step_name", "r.n_users", "r.pct_of_first")


def cohort_retention(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention triangle: cohort_week = Monday of the key's
    first event; one row per (cohort_week, week_offset) with the count of
    cohort members active that week and the retention rate vs cohort size.

    Offset 0 always exists with retention 1.0 (a user's first week is an
    active week), which doubles as the operator's self-check."""
    weeks = df.select(
        F.col(key_col),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("activity_week"),
    ).distinct()
    w = W.partitionBy(key_col)
    with_cohort = weeks.withColumn(
        "cohort_week", F.min("activity_week").over(w)
    ).withColumn(
        "week_offset",
        (F.datediff(F.col("activity_week"), F.col("cohort_week")) / 7).cast("int"),
    )
    sizes = (
        with_cohort.filter(F.col("week_offset") == 0)
        .groupBy("cohort_week")
        .agg(F.count("*").alias("cohort_size"))
    )
    active = with_cohort.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active")
    )
    return (
        active.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def transition_matrix(
    df: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order path analysis: counts and probabilities of consecutive
    event-type transitions within each key's timeline (the Markov-chain
    view of user journeys).  ``lead`` over (key, ts, tiebreak) pairs each
    event with its successor — one keyed shuffle for the window, one
    map-side-combined agg to |types|² rows, and the per-source normalizer
    is a window over that tiny result.  Probabilities are exact ratios of
    counts, rounded to 6 places."""
    w = W.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    pairs = (
        df.select(key_col, type_col, ts_col, tiebreak_col)
        .withColumn("to_type", F.lead(type_col).over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy(
        F.col(type_col).alias("from_type"), "to_type"
    ).agg(F.count("*").alias("n_transitions"))
    w_src = W.partitionBy("from_type")
    return (
        counts.withColumn(
            "prob",
            F.round(
                F.col("n_transitions") / F.sum("n_transitions").over(w_src), 6
            ),
        )
        .orderBy("from_type", "to_type")
    )

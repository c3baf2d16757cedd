"""Training-data curation operators: decontamination, deterministic
split/mixture/shard assignment, sequence packing.  The SQL-expressible
queries are differential-tested against their DuckDB oracles by the
registry net + verify_local; these tests pin the properties the oracles
can't state — packing invariants, sharded-layout shape, plan shape, and
the nesting/monotonicity guarantees the docstrings promise."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cloud_logistics_spark.catalog import load_table
from etl_cloud_logistics_spark.operators.curation import (
    contaminated_docs,
    mixture_sample,
    pack_sequences,
    shard_assign,
    split_assign,
)

BUDGET = 256


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents")


@pytest.fixture(scope="module")
def packed(spark, docs):
    with_tokens = docs.withColumn(
        "n_tokens", F.size(F.split(F.lower("text"), " ")).cast("long")
    )
    return pack_sequences(
        with_tokens, budget=BUDGET, n_buckets=4
    ).toPandas()


def test_packing_capacity_respected(packed):
    """No bin of normal-sized docs exceeds the token budget."""
    normal = packed[~packed.oversize]
    fills = normal.groupby(["bucket", "bin_id"]).n_tokens.sum()
    assert (fills <= BUDGET).all(), fills[fills > BUDGET]


def test_packing_exactly_once_and_oversize_isolated(packed, docs):
    """Every doc is packed exactly once; oversize docs sit alone in their
    bin (flagged for the caller, never silently dropped or co-packed)."""
    assert len(packed) == docs.count()
    assert packed.doc_id.is_unique
    assert (packed[packed.oversize].n_tokens > BUDGET).all()
    over_bins = packed[packed.oversize][["bucket", "bin_id"]]
    merged = over_bins.merge(packed, on=["bucket", "bin_id"])
    assert merged.oversize.all(), "an oversize doc shares a bin with a normal doc"


def test_packing_deterministic(spark, docs, packed):
    """Same input → identical assignment on a rerun (hash bucketing + FFD
    over a total order leaves no tie to the scheduler)."""
    with_tokens = docs.withColumn(
        "n_tokens", F.size(F.split(F.lower("text"), " ")).cast("long")
    )
    again = (
        pack_sequences(with_tokens, budget=BUDGET, n_buckets=4)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    first = packed.sort_values("doc_id").reset_index(drop=True)
    assert first.equals(again)


def test_packing_is_reasonably_tight(packed):
    """FFD should land well under the trivial one-doc-per-bin count —
    the whole point of packing is fewer padded windows."""
    normal = packed[~packed.oversize]
    n_bins = normal.groupby("bucket").bin_id.nunique().sum()
    lower_bound = -(-int(normal.n_tokens.sum()) // BUDGET)  # ceil
    assert n_bins <= 2 * lower_bound + 4  # FFD ≤ 1.7·OPT asymptotically


def test_split_keyed_on_group_is_leakage_safe(docs):
    """All rows sharing the split key get the same split assignment."""
    out = split_assign(docs, "source").toPandas()
    assert (out.groupby("source").split.nunique() == 1).all()
    assert set(out.split.unique()) <= {"train", "val", "test"}


def test_mixture_thresholds_nest(docs):
    """Raising a keep rate must GROW the kept set (threshold sampling
    nests) — the property that makes scaling ablations subsets of each
    other."""
    lo = mixture_sample(docs, {"en": 0.3}, key_col="doc_id").toPandas()
    hi = mixture_sample(docs, {"en": 0.6}, key_col="doc_id").toPandas()
    kept_lo = set(lo[lo.keep_mix].doc_id)
    kept_hi = set(hi[hi.keep_mix].doc_id)
    assert kept_lo <= kept_hi
    assert len(kept_hi) > len(kept_lo)


def test_mixture_unlisted_groups_dropped(docs):
    out = mixture_sample(docs, {"en": 1.0}, key_col="doc_id").toPandas()
    assert out[out.lang != "en"].keep_mix.eq(False).all()
    assert out[out.lang == "en"].keep_mix.all()


def test_shard_assignment_stable_under_repartition(docs):
    """Hash sharding must not depend on physical layout (round-robin ids
    would): shard of every row is identical after an arbitrary
    repartition."""
    a = shard_assign(docs, n_shards=8).select("doc_id", "shard").toPandas()
    b = (
        shard_assign(docs.repartition(7), n_shards=8)
        .select("doc_id", "shard")
        .toPandas()
    )
    merged = a.merge(b, on="doc_id", suffixes=("_a", "_b"))
    assert (merged.shard_a == merged.shard_b).all()
    assert a.shard.between(0, 7).all()


def test_decontam_broadcasts_bench_side(spark, docs):
    """The benchmark gram set must broadcast — the 100 TB training side
    never shuffles for the overlap join (its only wide exchange is the
    final per-doc aggregation)."""
    bench_flag = F.col("doc_id") % 25 == 0
    df = contaminated_docs(docs.filter(~bench_flag), docs.filter(bench_flag), n=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontam_self_overlap_full(spark, docs):
    """Sanity: a corpus checked against itself is fully contaminated."""
    out = contaminated_docs(docs, docs, n=4)
    n_docs_with_grams = (
        docs.select(F.size(F.split(F.lower("text"), " ")).alias("n"))
        .filter(F.col("n") >= 4)
        .count()
    )
    assert out.count() == n_docs_with_grams


def test_stratified_sample_exact_sizes_and_determinism(spark):
    from etl_cloud_logistics_spark.operators.curation import stratified_sample_exact

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(100)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample_exact(df, ["lang"], "doc_id", 10)
    sizes = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # exact n where the stratum is big enough, the whole stratum where not
    assert sizes == {"en": 10, "de": 10, "fr": 10, "tiny": 1}
    a = sorted((r.doc_id, r.lang) for r in out.collect())
    b = sorted(
        (r.doc_id, r.lang)
        for r in stratified_sample_exact(df, ["lang"], "doc_id", 10).collect()
    )
    assert a == b
    # a different salt draws a (near-certainly) different sample — decisions
    # are namespaced, not re-used across purposes
    c = sorted(
        (r.doc_id, r.lang)
        for r in stratified_sample_exact(df, ["lang"], "doc_id", 10, salt="other").collect()
    )
    assert a != c


def test_temperature_rates_properties(spark):
    """α=0: rates equalize expected kept counts; α=1: keep everything;
    α=0.5: kept ∝ sqrt(n) in expectation; smallest group always keeps 1.0."""
    from etl_cloud_logistics_spark.operators.curation import temperature_rates

    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "mid") for i in range(100)]
        + [(2000 + i, "small") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    r0 = temperature_rates(df, "source", alpha=0.0)
    assert abs(r0["big"] * 400 - 25) < 1e-9 and abs(r0["mid"] * 100 - 25) < 1e-9
    assert r0["small"] == 1.0
    r1 = temperature_rates(df, "source", alpha=1.0)
    assert all(v == 1.0 for v in r1.values())
    rh = temperature_rates(df, "source", alpha=0.5)
    # expected kept ∝ sqrt(n): 400*sqrt(25/400)=100, 100*sqrt(25/100)=50, 25
    assert abs(rh["big"] * 400 - 100) < 1e-9
    assert abs(rh["mid"] * 100 - 50) < 1e-9
    assert rh["small"] == 1.0


def test_budget_select_matches_single_partition_window(spark):
    """The two-phase distributed prefix sum equals the naive global-window
    answer (computed here with one partition) for several budgets,
    including 0 and over-total; the first over-budget row is excluded."""
    from pyspark.sql import Window as W

    from etl_cloud_logistics_spark.operators.curation import budget_select

    rows = [(i, float((i * 37) % 11), (i % 7) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, score double, w long")
    naive = df.withColumn(
        "cum_weight",
        F.sum("w").over(
            W.orderBy(F.desc("score"), F.asc("doc_id")).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    total = df.agg(F.sum("w")).first()[0]
    for budget in (0, 13, 200, total, total + 10):
        got = sorted(
            (r.doc_id, r.cum_weight)
            for r in budget_select(
                df, "score", "w", budget, partitions=8
            ).collect()
        )
        want = sorted(
            (r.doc_id, r.cum_weight)
            for r in naive.filter(F.col("cum_weight") <= budget).collect()
        )
        assert got == want, budget
    # full budget keeps everything
    assert len(budget_select(df, "score", "w", total, partitions=8).collect()) == 200


def test_budget_select_rejects_null_weights(spark):
    """NULL weights would be selected without consuming budget (SUM skips
    them) and an all-NULL partition's NULL sum TypeErrors the offset fold —
    the operator must refuse loudly instead (r5 advice)."""
    import pytest as _pytest

    from etl_cloud_logistics_spark.operators.curation import budget_select

    rows = [(i, float(i), 2 if i % 3 else None) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, score double, w long")
    with _pytest.raises(ValueError, match="non-null 'w'"):
        budget_select(df, "score", "w", 20, partitions=4).collect()


def test_budget_select_no_single_task_stage(spark):
    """The selection plan never runs a global (non-partitioned) window —
    every Window node in the executed plan carries a partition spec."""
    from etl_cloud_logistics_spark.operators.curation import budget_select

    rows = [(i, float(i % 5), 2) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, score double, w long")
    out = budget_select(df, "score", "w", 50, partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, line


def test_bloom_decontam_equals_exact(spark, sf_small):
    """Bloom prefilter + exact verify returns bit-identically what the
    exact broadcast-join decontam returns (no false negatives by
    construction; false positives die in the verify join)."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.curation import (
        contaminated_docs,
        contaminated_docs_bloom,
    )

    docs = load_table(spark, sf_small, "documents")
    bench_flag = F.col("doc_id") % 25 == 0
    train, bench = docs.filter(~bench_flag), docs.filter(bench_flag)
    exact = sorted(tuple(r) for r in contaminated_docs(train, bench, n=4).collect())
    bloom = sorted(
        tuple(r) for r in contaminated_docs_bloom(train, bench, n=4).collect()
    )
    assert bloom == exact and exact  # non-vacuous: contamination exists
    # a deliberately tiny/saturated filter still returns the exact answer
    # (everything becomes a candidate; the verify join does the work)
    saturated = sorted(
        tuple(r)
        for r in contaminated_docs_bloom(
            train, bench, n=4, bits_per_key=1, n_hashes=1
        ).collect()
    )
    assert saturated == exact


def test_gopher_gate_passes_caller_columns_through(spark):
    """The shared gate helper must not clobber caller columns: staged
    intermediates use collision-proof underscore names and are dropped, so
    a frame already carrying ws/rep/total/grams/n_words survives intact."""
    from etl_cloud_logistics_spark.operators.quality import (
        gopher_repetition_columns,
    )

    rows = [(1, "a b c d e f g h i j k l", "keep-ws", 0.9, 7)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, ws string, rep double, total int"
    )
    out = gopher_repetition_columns(df)
    r = out.collect()[0]
    assert (r.ws, r.rep, r.total) == ("keep-ws", 0.9, 7)
    assert r._qg_n_words == 12 and r._qg_rep == 0.0
    assert set(out.columns) == set(df.columns) | {"_qg_n_words", "_qg_rep"}


def test_curation_pipeline_reliable_checkpoint_identical(
    spark, sf_small, reliable_checkpoints
):
    """With a session checkpoint directory every staging and every
    components round is reliable: the pipeline's output is row-identical to
    the default localCheckpoint mode."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.queries.curation_ops import curation_pipeline

    docs = load_table(spark, sf_small, "documents")
    base = sorted(map(tuple, curation_pipeline(spark, docs).collect()))
    with reliable_checkpoints():
        rel = sorted(map(tuple, curation_pipeline(spark, docs).collect()))
    assert rel == base and base


def test_gopher_gate_collision_fails_loudly(spark):
    """A caller column matching an intermediate or output name would be
    silently overwritten then dropped; the helper must refuse instead
    (ADVICE r6)."""
    import pytest as _pytest

    from etl_cloud_logistics_spark.operators.quality import (
        gopher_repetition_columns,
    )

    df = spark.createDataFrame([(1, "a b c", 9)], "doc_id long, text string, _qg_ws long")
    with _pytest.raises(ValueError, match="_qg_ws"):
        gopher_repetition_columns(df)
    df2 = spark.createDataFrame([(1, "a b c", 9)], "doc_id long, text string, n_words long")
    with _pytest.raises(ValueError, match="n_words"):
        gopher_repetition_columns(df2, n_words_col="n_words")

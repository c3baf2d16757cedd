"""Unit tests for the custom DataFrame operators on tiny literal frames,
covering the semantic traps catalogued in SURVEY.md §2.8/§7: DOW
conventions, 15-minute bucket edges, NULLIF guards, SCD2 invariants,
as-of tie handling, QA flag correction."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from etl_cloud_logistics_spark.functions import (
    dow_pg,
    day_name,
    time_key_15min,
)
from etl_cloud_logistics_spark.operators.asof import asof_join
from etl_cloud_logistics_spark.operators.dims import (
    generate_dim_date,
    generate_dim_time,
)
from etl_cloud_logistics_spark.operators.quality import flag_outliers, qa_flags, zscore_stats
from etl_cloud_logistics_spark.operators.scd2 import scd2_apply


def test_dow_pg_convention(spark):
    # 2024-01-07 was a Sunday → Postgres DOW 0 (Spark dayofweek would say 1)
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 7),), (dt.date(2024, 1, 8),), (dt.date(2024, 1, 13),)],
        "d date",
    )
    rows = df.select(dow_pg("d").alias("dow"), day_name("d").alias("name")).collect()
    assert [(r.dow, r.name) for r in rows] == [
        (0, "Sunday"),
        (1, "Monday"),
        (6, "Saturday"),
    ]


def test_time_key_15min_edges(spark):
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 0, 0, 0),),
            (dt.datetime(2024, 1, 1, 0, 14, 59),),
            (dt.datetime(2024, 1, 1, 0, 15, 0),),
            (dt.datetime(2024, 1, 1, 23, 59, 59),),
        ],
        "ts timestamp",
    )
    assert [r[0] for r in df.select(time_key_15min("ts")).collect()] == [
        0,
        0,
        15,
        2345,
    ]


def _scd2_fixture(spark):
    current = spark.createDataFrame(
        [
            (1, "a", 10.0, dt.date(2000, 1, 1), None, True),
            (2, "b", 20.0, dt.date(2000, 1, 1), None, True),
            # key 3 already has history: one closed + one open version
            (3, "c_old", 1.0, dt.date(1999, 1, 1), dt.date(2000, 1, 1), False),
            (3, "c", 30.0, dt.date(2000, 1, 1), None, True),
        ],
        "k int, name string, val double, valid_from date, valid_to date, is_current boolean",
    )
    staging = spark.createDataFrame(
        [
            (1, "a", 10.0),  # unchanged
            (2, "b2", 20.0),  # changed attr
            (4, "d", 40.0),  # brand new key
            # key 3 absent from staging → untouched (incremental extract)
        ],
        "k int, name string, val double",
    )
    return current, staging


def test_scd2_classification(spark):
    current, staging = _scd2_fixture(spark)
    out = scd2_apply(current, staging, ["k"], ["name", "val"], "2001-06-01")
    rows = {(r.k, r.name): r for r in out.collect()}
    assert len(rows) == 6  # 4 original + 1 closed-successor + 1 new key
    # unchanged key keeps its open version
    assert rows[(1, "a")].is_current and rows[(1, "a")].valid_to is None
    # changed key: old closed at effective date, successor open
    assert not rows[(2, "b")].is_current
    assert rows[(2, "b")].valid_to == dt.date(2001, 6, 1)
    assert rows[(2, "b2")].is_current
    assert rows[(2, "b2")].valid_from == dt.date(2001, 6, 1)
    # absent key untouched, history preserved
    assert rows[(3, "c")].is_current and not rows[(3, "c_old")].is_current
    # new key inserted open
    assert rows[(4, "d")].is_current


def test_scd2_invariants(spark):
    """Exactly one is_current per key; windows contiguous (closed.valid_to ==
    successor.valid_from); open versions have null valid_to."""
    current, staging = _scd2_fixture(spark)
    out = scd2_apply(current, staging, ["k"], ["name", "val"], "2001-06-01")
    per_key = (
        out.groupBy("k")
        .agg(F.sum(F.col("is_current").cast("int")).alias("n_open"))
        .collect()
    )
    assert all(r.n_open == 1 for r in per_key)
    open_rows = out.filter(F.col("is_current")).collect()
    assert all(r.valid_to is None for r in open_rows)
    # contiguity: every closed row's valid_to equals some successor valid_from
    closed = out.filter(~F.col("is_current")).alias("c")
    succ = out.alias("s")
    dangling = closed.join(
        succ,
        (F.col("c.k") == F.col("s.k")) & (F.col("c.valid_to") == F.col("s.valid_from")),
        "left_anti",
    )
    assert dangling.count() == 0


def test_scd2_asof_lookup_matches_validity_windows(spark):
    """scd2_asof_lookup attaches the version whose [valid_from, valid_to)
    window holds the fact date: a closed version up to the day before its
    successor opens, the successor from that day, the open window of a
    brand-new key, and a null match for an unknown key or a pre-history
    date."""
    from etl_cloud_logistics_spark.operators.scd2 import scd2_asof_lookup

    current, staging = _scd2_fixture(spark)
    dim = scd2_apply(current, staging, ["k"], ["name", "val"], "2001-06-01")
    facts = spark.createDataFrame(
        [
            (100, 1, dt.date(2000, 6, 1)),   # inside k=1's open window
            (101, 2, dt.date(2001, 5, 31)),  # k=2 old version (closes 6/1)
            (102, 2, dt.date(2001, 6, 1)),   # k=2 successor (opens 6/1)
            (103, 4, dt.date(2001, 7, 1)),   # brand-new key's open window
            (104, 9, dt.date(2001, 7, 1)),   # unknown key -> null match
            (105, 2, dt.date(1990, 1, 1)),   # pre-history -> null match
        ],
        "fact_id long, k long, fact_date date",
    )
    out = scd2_asof_lookup(dim, facts, ["k"], "fact_date").select(
        "fact_id", "name", "valid_from"
    )
    rows = out.collect()
    assert len(rows) == 6
    by_id = {r.fact_id: (r.name, r.valid_from) for r in rows}
    assert by_id[101][0] == "b" and by_id[102][0] == "b2"
    assert by_id[104] == (None, None) and by_id[105] == (None, None)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 20, "e2"), (1, 5, "e0"), (2, 10, "x")],
        "uid int, t int, name string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0)], "uid int, t int, v double"
    )
    out = asof_join(
        left, right, on=["uid"], left_ts="t", right_ts="t", payload=["v"]
    )
    got = {r.name: r.asof_v for r in out.collect()}
    # equal timestamps match (>= semantics); earlier rows get no payload;
    # other keys never leak
    assert got == {"e0": None, "e1": 100.0, "e2": 150.0, "x": None}


def test_qa_flags(spark):
    df = spark.createDataFrame(
        [(1, -5.0, 2.0), (2, 3.0, -1.0), (3, 1.0, 1.0)], "id int, a double, b double"
    )
    out = {r.id: r for r in qa_flags(df, ["a", "b"]).collect()}
    assert out[1].a == 0.0 and out[1].qa_flag_a and not out[1].qa_passed
    assert out[2].b == 0.0 and out[2].qa_flag_b and not out[2].qa_passed
    assert out[3].qa_passed and out[3].a == 1.0


def test_zscore_flags_extremes(spark):
    data = [(float(i),) for i in range(100)] + [(10_000.0,)]
    df = spark.createDataFrame(data, "x double")
    out = flag_outliers(df, "x")
    assert out.filter("is_outlier").count() == 1
    assert out.filter("is_outlier").first().x == 10_000.0


def test_zscore_no_spread_flags_nothing(spark):
    """One row, or all-equal values, have no sample stddev: std is NULL
    (n < 2) or 0, and flag_outliers must give a NULL zscore and no outlier
    instead of dividing by zero."""
    for data in ([(5.0,)], [(7.0,), (7.0,)]):
        df = spark.createDataFrame(data, "x double")
        out = flag_outliers(df, "x").collect()
        assert len(out) == len(data)
        assert all(r.zscore is None and r.is_outlier is False for r in out)
    assert zscore_stats(spark.createDataFrame([(5.0,)], "x double"), "x").first().std is None


def test_dim_generators(spark):
    dd = generate_dim_date(spark, "2024-01-01", "2024-12-31")
    assert dd.count() == 366  # leap year
    jan7 = dd.filter(F.col("date_key") == 20240107).first()
    assert jan7.day_of_week == 0 and jan7.is_weekend and jan7.day_name == "Sunday"
    feb29 = dd.filter(F.col("date_key") == 20240229).first()
    assert feb29.is_month_end
    tt = generate_dim_time(spark)
    assert tt.count() == 96
    assert tt.filter(F.col("time_key") == 1145).first().day_part == "morning"


def test_salted_agg_equals_plain(spark, sf_small):
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.skew import salted_agg
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_small, "orders")
    salted = salted_agg(
        orders, ["o_orderstatus"], sum_cols=["o_totalprice"], n_salts=8
    ).collect()
    plain = (
        orders.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_rows"), F.sum("o_totalprice").alias("sum_o_totalprice"))
        .collect()
    )
    assert {(r["o_orderstatus"], r["n_rows"]) for r in salted} == {
        (r["o_orderstatus"], r["n_rows"]) for r in plain
    }
    s = {r["o_orderstatus"]: r["sum_o_totalprice"] for r in salted}
    p = {r["o_orderstatus"]: r["sum_o_totalprice"] for r in plain}
    for k in p:
        assert abs(s[k] - p[k]) < 1e-6 * max(1.0, abs(p[k]))


def test_schema_gate_rejects_drift(spark):
    """S9: the schema validation gate fails fast on missing columns and
    type drift (ref etl_pipeline.py:194-224)."""
    import pytest as _pytest

    from etl_cloud_logistics_spark.catalog import SchemaValidationError, validate_schema

    good = spark.createDataFrame([(1, "AFRICA")], "r_regionkey int, r_name string")
    validate_schema(good, "region")  # passes

    missing = spark.createDataFrame([(1,)], "r_regionkey int")
    with _pytest.raises(SchemaValidationError, match="missing"):
        validate_schema(missing, "region")

    wrong_type = spark.createDataFrame([("x", "AFRICA")], "r_regionkey string, r_name string")
    with _pytest.raises(SchemaValidationError, match="mismatch"):
        validate_schema(wrong_type, "region")


def test_expectations_flag_planted_violations(spark):
    from etl_cloud_logistics_spark.operators.expectations import (
        expect_not_null,
        expect_positive,
        run_expectations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (1, 200.0)], "k long, v double"
    )
    rep = {
        r["expectation"]: (r["n_violations"], r["passed"])
        for r in run_expectations(
            df,
            [expect_positive("v"), expect_not_null("v")],
            unique_cols=["k"],
        ).collect()
    }
    assert rep["v_positive"] == (2, False)      # -5 and NULL both violate
    assert rep["v_not_null"] == (1, False)
    assert rep["k_unique"] == (1, False)        # k=1 twice


def test_grouped_normalize_pandas_equals_native(spark, sf_small):
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.grouped import normalize_native

    cust = load_table(spark, sf_small, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    native = {
        r["c_custkey"]: r["z"]
        for r in normalize_native(cust, "c_nationkey", "c_acctbal").collect()
    }
    # reference: pandas per-group z-score over the collected rows (sample
    # std, ddof=1, the stddev_samp convention; NULL where a group has no
    # spread)
    pdf = cust.toPandas()
    by_nation = pdf.groupby("c_nationkey")["c_acctbal"]
    std = by_nation.transform("std")
    z = (pdf["c_acctbal"] - by_nation.transform("mean")) / std
    want = {
        k: (v if s > 0 else None)
        for k, v, s in zip(pdf["c_custkey"], z, std)
    }
    assert native.keys() == want.keys()
    for k in native:
        a, b = native[k], want[k]
        assert (a is None and b is None) or abs(a - b) < 1e-9


def test_neardup_components_raises_on_non_convergence(spark):
    """A duplicate chain longer than max_iter must fail loudly — silent
    truncation would hand the caller bogus split components (wrong keep/drop
    decisions downstream)."""
    import pytest as _pytest

    from etl_cloud_logistics_spark.operators.dedup import neardup_components

    n = 8  # path graph: min label travels one hop per iteration
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(pairs, nodes, max_iter=3)


def test_atomic_overwrite_swaps_complete_tables(spark, tmp_path):
    """The upsert/dim sink must never leave a half table: the new snapshot is
    fully materialized BESIDE the target, then swapped in by rename."""
    import os

    from etl_cloud_logistics_spark.sources.upsert import atomic_overwrite

    target = str(tmp_path / "state_tbl")
    atomic_overwrite(spark.range(5).withColumn("v", F.lit("a")), target)
    assert spark.read.parquet(target).count() == 5

    # overwrite with new content: target readable throughout, old dirs cleaned
    atomic_overwrite(spark.range(3).withColumn("v", F.lit("b")), target)
    got = spark.read.parquet(target)
    assert got.count() == 3
    assert {r["v"] for r in got.collect()} == {"b"}
    assert not os.path.exists(target + "._tmp_swap")
    assert not os.path.exists(target + "._old")


def test_atomic_overwrite_recovers_from_crash_between_renames(spark, tmp_path):
    """A crash between rename(target, old) and rename(tmp, target) leaves
    the table only at '._old'; the next call must restore it before
    writing, so the swap still sees (and can serve) the prior state."""
    import os

    from etl_cloud_logistics_spark.sources.upsert import atomic_overwrite, upsert_parquet

    target = str(tmp_path / "state_tbl")
    base = spark.range(4).withColumn("v", F.lit("a")).withColumn("version", F.lit(1))
    atomic_overwrite(base, target)
    # simulate the crash window: target renamed away, new table never landed
    os.rename(target, target + "._old")
    assert not os.path.exists(target)

    # next writer call recovers '._old' and completes its own overwrite
    new = spark.range(2).withColumn("v", F.lit("b")).withColumn("version", F.lit(2))
    atomic_overwrite(new, target)
    got = spark.read.parquet(target)
    assert got.count() == 2
    assert not os.path.exists(target + "._old")

    # and the recovery matters for merge semantics: an upsert after a crash
    # still sees the pre-crash rows as the existing side
    os.rename(target, target + "._old")
    updates = spark.createDataFrame([(0, "c", 9)], "id long, v string, version long")
    merged = upsert_parquet(spark, target, updates, keys=["id"], version_col="version")
    assert sorted((r["id"], r["v"]) for r in merged.collect()) == [(0, "c"), (1, "b")]


def test_interval_overlap_join_planted(spark):
    """Interval×interval join on a planted fixture incl. negative range
    values (floor-vs-truncate bucket regression), cross-bucket intervals,
    touching-but-not-overlapping half-open ranges, and key isolation."""
    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.operators.rangejoin import interval_overlap_join

    left = spark.createDataFrame(
        [(1, "a1", -10, -2), (1, "a2", 0, 5), (2, "a3", 0, 5)],
        "k int, lid string, s_a long, e_a long",
    )
    right = spark.createDataFrame(
        [
            (1, "b1", -5, 1),   # overlaps a1 (negative range) AND a2
            (1, "b2", 5, 9),    # touches a2 at 5 — half-open: NO overlap
            (2, "b3", 4, 6),    # overlaps a3 only (key 2)
            (1, "b4", 100, 101),
        ],
        "k int, rid string, s_b long, e_b long",
    )
    out = interval_overlap_join(
        left, right, on=["k"],
        left_range=("s_a", "e_a"), right_range=("s_b", "e_b"),
        bucket_width=3,
    )
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    assert got == {("a1", "b1"), ("a2", "b1"), ("a3", "b3")}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_resample_locf_fills_gaps(spark):
    """Three observations with a 3-hour hole: the spine materializes every
    hourly bucket in [first, last], empty buckets carry the prior value,
    in-bucket ties resolve to the latest (ts, tiebreak) observation."""
    from etl_cloud_logistics_spark.operators.timeseries import resample_locf

    rows = [
        (1, "2024-01-01 00:10:00", 10.0, 1),
        (1, "2024-01-01 00:50:00", 20.0, 2),  # same bucket, later → wins
        (1, "2024-01-01 04:05:00", 99.0, 3),  # 3-hour gap before this
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sorted(
        resample_locf(
            df, key_col="user_id", ts_col="ts", value_col="value",
            step_seconds=3600, tiebreak_col="event_id",
        ).collect(),
        key=lambda r: r.bucket_ts,
    )
    assert [r.bucket_ts.hour for r in out] == [0, 1, 2, 3, 4]
    assert [r.value_ffill for r in out] == [20.0, 20.0, 20.0, 20.0, 99.0]
    assert [r.n_obs for r in out] == [2, 0, 0, 0, 1]
    assert [r.gap_filled for r in out] == [False, True, True, True, False]


def test_funnel_strict_order_binding(spark):
    """Funnel binds each step to the FIRST qualifying event strictly after
    the previous step: a click before the first view does not convert, and
    a purchase between view and click does not count for step 3."""
    from etl_cloud_logistics_spark.operators.eventflow import funnel_counts

    rows = [
        # u1: full ordered funnel
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 11:00:00"),
        (1, "purchase", "2024-01-01 12:00:00"),
        # u2: click precedes the only view -> stops at step 1
        (2, "click", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 10:00:00"),
        # u3: purchase sits between view and click -> steps 1-2 only
        (3, "view", "2024-01-01 10:00:00"),
        (3, "purchase", "2024-01-01 10:30:00"),
        (3, "click", "2024-01-01 11:00:00"),
        # u4: never enters the funnel
        (4, "error", "2024-01-01 10:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.step_no: r.n_users
        for r in funnel_counts(df, ["view", "click", "purchase"]).collect()
    }
    assert out == {1: 3, 2: 2, 3: 1}


def test_mad_gate_resists_masking(spark):
    """Four wild values inflate the sample std enough that the |z|>3 gate
    misses all of them (classic masking: max |z| ≈ sqrt(n/k) ≈ 2.4 here);
    the median/MAD gate flags every one, and its median stays at the clean
    data's value."""
    from etl_cloud_logistics_spark.operators.quality import mad_outlier_stats

    clean = [("g", 100.0 + i * 0.5) for i in range(20)]
    wild = [("g", 5000.0), ("g", -5000.0), ("g", 6000.0), ("g", -6000.0)]
    df = spark.createDataFrame(clean + wild, "grp string, x double")
    row = mad_outlier_stats(df, "x", "grp", threshold=3.5).collect()[0]
    assert row.n_outliers == 4
    assert 100.0 <= row.median_val <= 110.0  # unmoved by the wild pair
    # the mean/std gate on the same data flags neither (std ~ 1500)
    from etl_cloud_logistics_spark.operators.quality import flag_outliers

    z_flagged = flag_outliers(df, "x", threshold=3.0).filter("is_outlier").count()
    assert z_flagged == 0


def test_resample_interpolate_lerps_gaps(spark):
    """A 3-hour hole between values 10 and 70 fills with the time-weighted
    lerp (25/40/55); observed buckets keep their own last observation."""
    from etl_cloud_logistics_spark.operators.timeseries import resample_interpolate

    rows = [
        (1, "2024-01-01 00:30:00", 10.0, 1),
        (1, "2024-01-01 04:10:00", 70.0, 2),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double, event_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sorted(
        resample_interpolate(
            df, key_col="user_id", ts_col="ts", value_col="value",
            step_seconds=3600, tiebreak_col="event_id",
        ).collect(),
        key=lambda r: r.bucket_ts,
    )
    assert [r.value_interp for r in out] == [10.0, 25.0, 40.0, 55.0, 70.0]
    assert [r.gap_filled for r in out] == [False, True, True, True, False]


def test_frequent_item_pairs_planted(spark):
    """Hand-checkable basket fixture: pair counting once-per-basket, the
    Apriori item prune, and exact confidence/lift."""
    from etl_cloud_logistics_spark.operators.cooccurrence import frequent_item_pairs

    rows = []
    # baskets 1..4 all contain {10, 20}; basket 2 lists 10 twice (dup row)
    for bsk in (1, 2, 3, 4):
        rows += [(bsk, 10), (bsk, 20)]
    rows.append((2, 10))
    # item 30 appears in one basket only -> pruned before pairing
    rows.append((1, 30))
    # baskets 5, 6: {10, 40} twice — below minsup 3
    rows += [(5, 10), (5, 40), (6, 10), (6, 40)]
    df = spark.createDataFrame(rows, "basket long, item long")
    out = frequent_item_pairs(df, "basket", "item", minsup=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.item_a, r.item_b, r.pair_orders) == (10, 20, 4)
    assert (r.orders_a, r.orders_b) == (6, 4)  # item 10 in baskets 1-6
    assert r.confidence == 4 / 6
    assert r.lift == (4.0 * 6) / (6.0 * 4)  # n_baskets = 6


def test_frequent_item_pairs_empty_when_nothing_repeats(spark):
    from etl_cloud_logistics_spark.operators.cooccurrence import frequent_item_pairs

    df = spark.createDataFrame(
        [(b, b * 10 + i) for b in range(5) for i in range(3)], "basket long, item long"
    )
    assert frequent_item_pairs(df, "basket", "item", minsup=2).count() == 0


def test_misra_gries_bounds_on_zipf_stress(spark):
    """MG guarantee under real pressure: 5,000 distinct items, k=100 —
    decrements must fire constantly, yet (a) per-partition state stays <= k,
    (b) merged undercount <= n/(k+1) for every surviving item, (c) no item
    with true count > n/(k+1) is lost from candidacy."""
    import hashlib

    from etl_cloud_logistics_spark.operators.heavyhitters import (
        heavy_hitters_exact,
        mg_sketch_partials,
    )

    rows = []
    # Zipf-ish: item i appears ~ 4000/i times (deterministic, shuffled by md5)
    for i in range(1, 201):
        rows += [(f"hot{i:03d}",)] * (4000 // i)
    for i in range(5000):
        rows.append((f"cold{i:05d}",))
    rows.sort(key=lambda r: hashlib.md5(r[0].encode()).hexdigest())
    n = len(rows)
    k = 100
    df = spark.createDataFrame(rows, "item string").repartition(8)
    partials = mg_sketch_partials(df, "item", k)
    # (a) bounded state: at most k summary rows per input partition
    assert partials.count() <= 8 * k
    merged = {r["item"]: r["est"] for r in partials.groupBy("item").agg(F.sum("cnt").alias("est")).collect()}
    true = {}
    for (it,) in rows:
        true[it] = true.get(it, 0) + 1
    err = n / (k + 1)
    # (b) undercount bound on every surviving item
    for it, est in merged.items():
        assert est <= true[it] and true[it] - est <= err, it
    # (c) recall: every item heavier than the bound is still a candidate
    for it, c in true.items():
        if c > err:
            assert it in merged, f"lost heavy item {it} ({c} > {err})"
    # end-to-end: the self-sizing k honors the bound, so the exact output
    # == the brute-force heavy set for a safe threshold
    thresh = int(err) + 50
    got = {
        r["item"]: r["n_occurrences"]
        for r in heavy_hitters_exact(df, "item", threshold=thresh).collect()
    }
    want = {it: c for it, c in true.items() if c >= thresh}
    assert got == want
    # the completeness contract is enforced, not assumed: a max_k too small
    # to honor threshold > n/(k+1) raises instead of silently returning an
    # incomplete candidate set
    import pytest as _pytest

    with _pytest.raises(ValueError):
        heavy_hitters_exact(df, "item", threshold=2, max_k=10)


def test_pagerank_matches_power_iteration(spark):
    """4-node graph with a dangling node: fixed-point PageRank == numpy
    power iteration on the dense Google matrix to 1e-8, and total rank
    mass stays 1.0 (the dangling redistribution invariant)."""
    import numpy as np

    from etl_cloud_logistics_spark.operators.graph import PR_SCALE, pagerank_fixed

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_fp / PR_SCALE
        for r in pagerank_fixed(df, n_iter=100).collect()
    }
    n, d = 4, 0.85
    m = np.zeros((n, n))
    out = {0: 2, 1: 1, 2: 2}
    for s, t in edges:
        m[t, s] = 1 / out[s]
    r = np.full(n, 1 / n)
    for _ in range(300):
        r = (1 - d) / n + d * (m @ r + r[3] / n)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-8, i


def test_pagerank_uniform_on_symmetric_cycle(spark):
    """A symmetric cycle has the uniform stationary distribution — any
    deviation reveals a normalization bug.  In fixed point the uniform
    rank is an exact fixed point: base 3e13 + (85 · 2e14) div 100 = 2e14."""
    from etl_cloud_logistics_spark.operators.graph import PR_SCALE, pagerank_fixed

    edges = [(i, (i + 1) % 5) for i in range(5)] + [((i + 1) % 5, i) for i in range(5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = [r.rank_fp for r in pagerank_fixed(df, n_iter=40).collect()]
    assert len(got) == 5 and all(x == PR_SCALE // 5 for x in got), got


def test_ks_statistic_matches_direct_computation(spark):
    """KS over a small two-sample set equals the direct all-values CDF-gap
    computation (python), including duplicate values and unequal sizes;
    the at_value tie-break is the smallest attaining value."""
    from etl_cloud_logistics_spark.operators.drift import ks_statistic

    a = [1.0, 2.0, 2.0, 3.0, 7.0, 9.0]
    b = [2.0, 3.0, 4.0, 4.0, 8.0]
    rows = [(v, "a") for v in a] + [(v, "b") for v in b]
    df = spark.createDataFrame(rows, "v double, side string")
    got = ks_statistic(df, "v", "side", partitions=4).first()

    support = sorted(set(a + b))
    gaps = {
        x: abs(
            sum(1 for y in a if y <= x) / len(a)
            - sum(1 for y in b if y <= x) / len(b)
        )
        for x in support
    }
    want = max(gaps.values())
    assert got["ks_stat"] == want
    assert got["at_value"] == min(x for x, g in gaps.items() if g == want)
    assert (got["n_a"], got["n_b"]) == (len(a), len(b))


def test_ks_statistic_zero_on_identical_samples(spark):
    from etl_cloud_logistics_spark.operators.drift import ks_statistic

    rows = [(float(i % 7), s) for i in range(70) for s in ("a", "b")]
    df = spark.createDataFrame(rows, "v double, side string")
    assert ks_statistic(df, "v", "side").first()["ks_stat"] == 0.0


def test_ks_statistic_no_global_window(spark):
    """The distributed form never runs a non-partitioned window (the
    one-task trap the oracle's SQL form embodies)."""
    from etl_cloud_logistics_spark.operators.drift import ks_statistic

    rows = [(float(i % 13), "a" if i % 2 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, "v double, side string")
    out = ks_statistic(df, "v", "side", partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "_pid" in line, line


def test_chi2_drift_report_values(spark):
    """Hand-checked contributions: a shifted categorical distribution."""
    from etl_cloud_logistics_spark.operators.drift import chi2_drift_report

    rows = (
        [("x", "a")] * 30 + [("y", "a")] * 10
        + [("x", "b")] * 10 + [("y", "b")] * 30
    )
    df = spark.createDataFrame(rows, "category string, side string")
    got = {r["category"]: r for r in chi2_drift_report(df, "category", "side").collect()}
    # expected_b for x: 30/40 * 40 = 30; contribution (10-30)^2/30
    assert got["x"]["expected_b"] == 30.0
    assert got["x"]["contribution"] == (10 - 30.0) ** 2 / 30.0
    assert got["y"]["expected_b"] == 10.0
    assert got["y"]["contribution"] == (30 - 10.0) ** 2 / 10.0


def test_bloom_semi_join_equals_plain_join(spark):
    """bloom_semi_join returns exactly the plain join's rows — false
    positives die in the exact join, false negatives cannot exist — even
    with a deliberately saturated (1-bit-per-key) filter."""
    from etl_cloud_logistics_spark.operators.bloom import bloom_semi_join

    big = spark.createDataFrame(
        [(i, i % 100) for i in range(2000)], "row_id long, k long"
    )
    small = spark.createDataFrame(
        [(k, f"v{k}") for k in range(0, 100, 7)], "k long, payload string"
    )
    want = sorted(
        tuple(r) for r in big.join(small, "k").select("row_id", "k", "payload").collect()
    )
    got = sorted(
        tuple(r)
        for r in bloom_semi_join(big, small, "k")
        .select("row_id", "k", "payload")
        .collect()
    )
    assert got == want and want
    saturated = sorted(
        tuple(r)
        for r in bloom_semi_join(big, small, "k", bits_per_key=1, n_hashes=1)
        .select("row_id", "k", "payload")
        .collect()
    )
    assert saturated == want


def test_bloom_semi_join_rejects_outer_joins(spark):
    """The prefilter drops unmatched big-side rows BEFORE the join, so an
    outer variant would silently lose the null-extended rows — the
    operator must refuse rather than mis-answer (r5 advice)."""
    import pytest as _pytest

    from etl_cloud_logistics_spark.operators.bloom import bloom_semi_join

    big = spark.createDataFrame([(1, 1), (2, 2)], "row_id long, k long")
    small = spark.createDataFrame([(1, "v")], "k long, payload string")
    for how in ("left", "full", "right", "left_outer", "left_anti"):
        with _pytest.raises(ValueError, match="bloom_semi_join supports"):
            bloom_semi_join(big, small, "k", how=how)
    # the match-only forms stay accepted
    assert bloom_semi_join(big, small, "k", how="left_semi").count() == 1


def test_bloom_filter_rows_is_superset_prefilter(spark):
    """The prefilter keeps every true member and prunes most non-members
    at 10 bits/key."""
    from etl_cloud_logistics_spark.operators.bloom import (
        bloom_filter_rows,
        build_bloom,
    )

    members = spark.createDataFrame([(i,) for i in range(500)], "k long")
    model = build_bloom(members, "k")
    probe = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    kept = {r["k"] for r in bloom_filter_rows(probe, "k", model).collect()}
    assert set(range(500)) <= kept  # no false negatives, ever
    fp = len(kept) - 500
    assert fp / 4500 < 0.05, fp  # ~1% expected at 10 bits/key


def test_graph_family_reliable_checkpoint(spark, reliable_checkpoints):
    """A session checkpoint directory switches pagerank_fixed/bfs_min_hops
    lineage truncation from localCheckpoint to the shared two-slot parquet
    scheme (operators.checkpointing.RoundCheckpointer — executor-loss-safe
    on a real cluster); results must be IDENTICAL to the default mode, and
    the purely-intermediate BFS frontier stream must leave no files
    behind."""
    import os

    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.operators.graph import (
        bfs_min_hops,
        pagerank_fixed,
    )

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")

    fixed_local = {
        (r.node, r.rank_fp) for r in pagerank_fixed(df, n_iter=5).collect()
    }
    bfs_local = {(r.node, r.hops) for r in bfs_min_hops(df, seeds).collect()}
    with reliable_checkpoints() as chk:
        fixed_rel = {
            (r.node, r.rank_fp) for r in pagerank_fixed(df, n_iter=5).collect()
        }
        bfs_rel = {(r.node, r.hops) for r in bfs_min_hops(df, seeds).collect()}
        assert any(d.startswith("bfs-visited") for d in os.listdir(chk))
        # the frontier stream is intermediate-only: its run dir must be gone
        leftover = [d for d in os.listdir(chk) if d.startswith("bfs-frontier")]
    assert fixed_rel == fixed_local  # bit-exact: integer arithmetic
    assert bfs_rel == bfs_local == {(0, 0), (1, 1), (2, 1), (3, 2)}
    assert not leftover, leftover


def test_frequent_pairs_matches_full_miner(spark):
    """The pairs-only mining cut (r7: what the graph rows consume) returns
    exactly the full miner's (item_a, item_b, pair_orders) projection."""
    from etl_cloud_logistics_spark.operators.cooccurrence import (
        frequent_item_pairs,
        frequent_pairs,
    )

    rows = [
        (b, it)
        for b in range(12)
        for it in ([1, 2, 3] if b % 2 == 0 else [2, 3, 4, b + 10])
    ]
    df = spark.createDataFrame(rows, "basket long, item long")
    full = {
        (r.item_a, r.item_b, r.pair_orders)
        for r in frequent_item_pairs(df, "basket", "item", minsup=3).collect()
    }
    cut = {
        (r.item_a, r.item_b, r.pair_orders)
        for r in frequent_pairs(df, "basket", "item", minsup=3).collect()
    }
    assert cut == full and cut


def test_reliable_checkpoint_leaves_only_the_result_slot(spark, reliable_checkpoints):
    """cleanup_stale must remove the static slots too (review, r7): after a
    reliable-mode pagerank_fixed the run dir holds exactly the one round
    slot the returned frame reads — no stranded edge-list copies — and the
    returned frame still collects correctly after cleanup."""
    import os

    from etl_cloud_logistics_spark.operators.graph import pagerank_fixed

    edges = [(0, 1), (1, 2), (2, 0), (2, 3)]  # node 3 dangles
    df = spark.createDataFrame(edges, "src long, dst long")
    with reliable_checkpoints() as chk:
        out = pagerank_fixed(df, n_iter=4)
        rows = {(r.node, r.rank_fp) for r in out.collect()}
    assert len(rows) == 4
    (run_dir,) = os.listdir(chk)
    slots = sorted(os.listdir(os.path.join(chk, run_dir)))
    assert len(slots) == 1 and slots[0].startswith("slot-"), slots
    # dangling-graph equivalence: reliable mode == localCheckpoint mode
    base = {(r.node, r.rank_fp) for r in pagerank_fixed(df, n_iter=4).collect()}
    assert rows == base


def test_local_checkpoint_stats_stay_bounded(spark):
    """The r10 stats-blowup regression pin: Spark preserves estimated
    statistics through localCheckpoint, and the non-CBO estimator
    multiplies children's sizeInBytes BigInts through every join/union —
    un-reset, an iterative loop's stats digit count grows ~4x per round
    (measured 7 -> 24 -> 96 -> 383 -> 1529 -> 6114 over five star rounds)
    until the driver spends minutes inside BigInteger.multiplyToomCook3
    during stats estimation.  RoundCheckpointer's local mode must rebuild
    each round over its own RDD so the BigInt stays small forever."""
    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.operators.checkpointing import (
        RoundCheckpointer,
    )

    chk = RoundCheckpointer(spark, prefix="stats-pin")
    e = chk(
        spark.range(2000).select(
            F.col("id").alias("a"), (F.col("id") + 1).alias("b")
        )
    )
    for _ in range(5):
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("m"))
        e = chk(
            e.join(mins, e["a"] == mins["u"]).select(
                F.col("m").alias("a"), "b"
            ).distinct()
        )
        # py4j converts java BigInteger to a Python int
        bits = int(
            e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()
        # un-reset, five rounds reach >20000 bits (6114 decimal digits);
        # with the reset the leaf is a fresh default estimate every round
        assert bits < 256, f"stats BigInt grew to {bits} bits"
    assert e.count() > 0  # the rebuilt frames still read their blocks


def test_reset_plan_stats_fallback_is_loud(spark, monkeypatch):
    """Degraded-path pin (r11, VERDICT r10 nit #1): if a Spark upgrade ever
    removes the ``internalCreateDataFrame`` seam the stats reset depends
    on, the checkpointed frame must still be returned correct — but the
    fallback must warn ONCE per process and bump a counter a probe can
    read, so the geometric-slowdown pathology can't return as a mystery."""
    import warnings as _warnings

    from pyspark.sql import functions as F

    import etl_cloud_logistics_spark.operators.checkpointing as ckpt

    class _NoSeam:
        """Proxy JVM session with the reset seam 'upgraded away'."""

        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            if name == "internalCreateDataFrame":
                raise AttributeError("simulated Spark upgrade: seam removed")
            return getattr(self._real, name)

    monkeypatch.setattr(spark, "_jsparkSession", _NoSeam(spark._jsparkSession))
    monkeypatch.setattr(ckpt, "_reset_fallback_warned", False)
    before = ckpt.reset_fallback_count
    chk = ckpt.RoundCheckpointer(spark, prefix="fallback-pin")
    base = spark.range(100).select(F.col("id").alias("a"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        out = chk(base)
    assert ckpt.reset_fallback_count == before + 1
    assert any(
        "plan-stats reset unavailable" in str(w.message) for w in caught
    ), "degraded fallback must emit the one-time RuntimeWarning"
    assert out.count() == 100  # correctness survives the degraded path
    # warn-once: the second failure increments the counter silently
    with _warnings.catch_warnings(record=True) as caught2:
        _warnings.simplefilter("always")
        out2 = chk(base.withColumn("b", F.col("a") + 1))
    assert ckpt.reset_fallback_count == before + 2
    assert not any(
        "plan-stats reset unavailable" in str(w.message) for w in caught2
    ), "fallback warning must fire once per process, not per call"
    assert out2.count() == 100


def test_reset_plan_stats_live_path_never_falls_back(spark):
    """Companion pin: on THIS Spark version the reset seam works — the
    healthy path must not touch the fallback counter (otherwise the
    bounded-stats pin above is passing by accident)."""
    import etl_cloud_logistics_spark.operators.checkpointing as ckpt

    before = ckpt.reset_fallback_count
    chk = ckpt.RoundCheckpointer(spark, prefix="live-pin")
    out = chk(spark.range(50).toDF("node"))
    assert out.count() == 50
    assert ckpt.reset_fallback_count == before, (
        "the live reset path fell back — the internalCreateDataFrame seam "
        "is broken on this Spark version"
    )


def test_cleanup_stale_static_misuse_raises(spark, reliable_checkpoints):
    """The r7 contract-by-docstring ("do NOT call cleanup_stale if you
    return a frame produced by static()") is now enforced (r8, verdict
    item 5): deleting parquet that backs a live static-slot frame raises
    instead of silently corrupting the caller's result, and omitting the
    ``returning`` proof while statics exist raises too."""
    import os

    import pytest as _pytest

    from etl_cloud_logistics_spark.operators.checkpointing import RoundCheckpointer

    with reliable_checkpoints() as root:
        chk = RoundCheckpointer(spark, prefix="guard")
        df = spark.range(5).toDF("node")
        st = chk.static(df, "edges")
        r1 = chk(df.withColumn("lbl", df["node"] * 2))
        # misuse 1: returning a static-backed frame
        with _pytest.raises(ValueError, match="delete the parquet backing"):
            chk.cleanup_stale(returning=st)
        # misuse 2: statics exist but no proof-of-returning passed
        with _pytest.raises(ValueError, match="static slots exist"):
            chk.cleanup_stale()
        # the static frame is still readable — nothing was deleted by the raises
        assert st.count() == 5
        # correct use: pass the round frame; statics are cleaned, result lives
        chk.cleanup_stale(returning=r1)
        assert r1.count() == 5
    leftovers = sorted(os.listdir(os.path.join(root, os.path.basename(chk.run_dir))))
    assert leftovers and all(not p.startswith("static-") for p in leftovers), leftovers


def test_pagerank_empty_graph_leaves_no_checkpoint_litter(
    spark, reliable_checkpoints
):
    """Empty-graph early exit in reliable mode (r8 ADVICE fix):
    pagerank_fixed must return an unbacked empty frame and remove its
    per-invocation run dir, not leak static slots under the shared
    checkpoint directory forever."""
    import os

    from etl_cloud_logistics_spark.operators.graph import pagerank_fixed

    empty = spark.createDataFrame([], "src long, dst long")
    with reliable_checkpoints() as chk:
        out_fp = pagerank_fixed(empty, n_iter=3)
        assert out_fp.columns == ["node", "rank_fp"] and out_fp.count() == 0
    assert os.listdir(chk) == [], (
        "empty-graph path leaked checkpoint dirs: " + str(os.listdir(chk))
    )


def _record_pins(monkeypatch):
    """Wrap RoundCheckpointer._pin so a test can see which statics a run
    actually pinned: a list of (operator prefix, pin key)."""
    from etl_cloud_logistics_spark.operators.checkpointing import RoundCheckpointer

    pins = []
    real = RoundCheckpointer._pin

    def recording(self, df, pin_key):
        pins.append((self.prefix, pin_key))
        return real(self, df, pin_key)

    monkeypatch.setattr(RoundCheckpointer, "_pin", recording)
    return pins


def test_partitioning_pin_is_semantics_preserving_at_gate(spark, monkeypatch):
    """The r8 local edge-pin gate (PIN_MIN_ROWS' pagerank-fixed edges-od
    entry, which BFS's edge gate is tied to) switches the edge static
    between localCheckpoint and a keyed persisted cache purely for plan
    shape; the RESULT must be identical on both sides of the gate.  Run
    one mid-sized random-ish graph through pagerank_fixed and bfs_min_hops
    with the gate forced each way and require tuple-for-tuple equality —
    the invariant that makes the gate a pure performance knob."""
    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.operators import graph as G
    from etl_cloud_logistics_spark.operators.checkpointing import PIN_MIN_ROWS

    # ~3k nodes / ~20k edges: big enough that the pinned path exercises a
    # real multi-partition cache, small enough for CI
    e = (
        spark.range(20_000)
        .select(
            (F.pmod(F.hash(F.col("id")), F.lit(3000))).alias("src"),
            (F.pmod(F.hash(F.col("id") + 7), F.lit(3000))).alias("dst"),
        )
        .filter("src <> dst")
        .localCheckpoint(eager=True)
    )
    seeds = e.agg(F.min("src").alias("node"))
    pins = _record_pins(monkeypatch)
    gate = ("pagerank-fixed", "edges-od", "local")

    def run():
        ranks = {(r.node, r.rank_fp) for r in G.pagerank_fixed(e, n_iter=4).collect()}
        hops = {(r.node, r.hops) for r in G.bfs_min_hops(e, seeds, max_hops=3).collect()}
        return ranks, hops

    monkeypatch.setitem(PIN_MIN_ROWS, gate, 10**9)  # force OFF
    unpinned = run()
    assert pins == []
    monkeypatch.setitem(PIN_MIN_ROWS, gate, 1)  # force ON (BFS: 10 edges)
    pinned = run()
    assert pins == [("pagerank-fixed", "e_src"), ("bfs-visited", "src")], pins
    assert pinned == unpinned
    assert len(pinned[0]) > 2500 and len(pinned[1]) > 100


def test_nodes_pin_gate_is_semantics_preserving(spark, monkeypatch):
    """The r12 post-hoc nodes-static pin (pagerank_fixed's
    per-round nodes⋈contribs join stops exchanging the node list on big
    graphs) must be a pure plan-shape knob: forcing the gate each way,
    with and without the edge pin underneath, gives identical fixed-point
    ranks.  The graph keeps dangling nodes so the pinned static also
    feeds the dangling-set build."""
    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.operators import graph as G
    from etl_cloud_logistics_spark.operators.checkpointing import PIN_MIN_ROWS

    e = (
        spark.range(15_000)
        .select(
            (F.pmod(F.hash(F.col("id")), F.lit(2000))).alias("src"),
            (F.pmod(F.hash(F.col("id") + 7), F.lit(2500))).alias("dst"),
        )
        .filter("src <> dst")
        .localCheckpoint(eager=True)
    )
    pins = _record_pins(monkeypatch)
    nodes_gate = ("pagerank-fixed", "nodes", "local")
    monkeypatch.setitem(PIN_MIN_ROWS, nodes_gate, 10**9)  # force OFF
    base = {(r.node, r.rank_fp) for r in G.pagerank_fixed(e, n_iter=4).collect()}
    assert pins == []
    monkeypatch.setitem(PIN_MIN_ROWS, nodes_gate, 1)  # force ON (edge pin off)
    pinned = {(r.node, r.rank_fp) for r in G.pagerank_fixed(e, n_iter=4).collect()}
    assert pins == [("pagerank-fixed", "node")], pins
    monkeypatch.setitem(PIN_MIN_ROWS, ("pagerank-fixed", "edges-od", "local"), 1)
    both = {(r.node, r.rank_fp) for r in G.pagerank_fixed(e, n_iter=4).collect()}
    assert pins[1:] == [("pagerank-fixed", "e_src"), ("pagerank-fixed", "node")]
    assert pinned == base == both and len(base) > 2000


def test_partitioning_pin_reliable_mode_semantics(
    spark, monkeypatch, reliable_checkpoints
):
    """Same invariant for the reliable-mode pin (r8: parquet slot + keyed
    persisted read-back past the reliable edges-od gate): forcing
    the reliable threshold each way must not change fixed-point results,
    and the run dir still ends holding only the result's round slot."""
    import os

    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.operators import graph as G
    from etl_cloud_logistics_spark.operators.checkpointing import PIN_MIN_ROWS

    e = (
        spark.range(8_000)
        .select(
            (F.pmod(F.hash(F.col("id")), F.lit(1200))).alias("src"),
            (F.pmod(F.hash(F.col("id") + 3), F.lit(1200))).alias("dst"),
        )
        .filter("src <> dst")
        .localCheckpoint(eager=True)
    )
    pins = _record_pins(monkeypatch)
    gate = ("pagerank-fixed", "edges-od", "reliable")
    monkeypatch.setitem(PIN_MIN_ROWS, gate, 10**9)
    with reliable_checkpoints():
        base = {
            (r.node, r.rank_fp) for r in G.pagerank_fixed(e, n_iter=3).collect()
        }
    assert pins == []
    monkeypatch.setitem(PIN_MIN_ROWS, gate, 1)
    with reliable_checkpoints() as chk_b:
        out = G.pagerank_fixed(e, n_iter=3)
        pinned = {(r.node, r.rank_fp) for r in out.collect()}
    assert pins == [("pagerank-fixed", "e_src")], pins
    assert pinned == base and len(pinned) > 1000
    (run_dir,) = os.listdir(chk_b)
    slots = sorted(os.listdir(os.path.join(chk_b, run_dir)))
    assert slots and all(p.startswith("slot-") for p in slots), slots


def test_reliable_checkpoints_survive_block_loss(
    spark, sf_small, monkeypatch, tmp_path, reliable_checkpoints
):
    """Executor loss, made executable: after every materialization (each
    round checkpoint and each ``materialize`` staging), drop the blocks of
    every RDD cached since the fault was armed (the
    BlockManagerMaster.removeRdd a lost executor amounts to).  Reliable
    mode — pinned statics forced on — must return results bit-equal to an
    undisturbed run, for the graph loops and for the curation export,
    because every cache layers over a checkpoint file or the source and
    recomputes from it; local mode must fail loudly instead of returning
    rows, because localCheckpoint blocks have nothing to recompute from."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.operators import graph as G
    from etl_cloud_logistics_spark.operators.checkpointing import (
        PIN_MIN_ROWS,
        RoundCheckpointer,
    )
    from etl_cloud_logistics_spark.pipelines import run_curation_export

    jsc = spark.sparkContext._jsc.sc()

    def cached_rdd_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    # recomputable inputs (no localCheckpoint of their own to lose)
    e = (
        spark.range(3_000)
        .select(
            F.pmod(F.hash(F.col("id")), F.lit(400)).alias("src"),
            F.pmod(F.hash(F.col("id") + 5), F.lit(400)).alias("dst"),
            (F.lit(1) + F.pmod(F.hash(F.col("id") + 9), F.lit(7)))
            .cast("long")
            .alias("w"),
        )
        .filter("src <> dst")
    )
    seeds = spark.createDataFrame([(0,)], "node long")

    def export(tag):
        out = str(tmp_path / tag)
        summary = run_curation_export(spark, sf_small, out, n_shards=4)
        del summary["out_dir"]  # the one field that differs between runs
        manifest = spark.read.parquet(f"{out}/manifest").collect()
        shards = spark.read.parquet(f"{out}/shards").collect()
        return (
            summary,
            sorted(map(tuple, manifest)),
            sorted((r.doc_id, r.text, r.shard, r.split) for r in shards),
        )

    def run_all(tag):
        ranks = G.pagerank_fixed(e, n_iter=6)
        dists = G.sssp_fixed(e, seeds, n_rounds=4)
        hops = G.bfs_min_hops(e, seeds, max_hops=4)
        return (
            {(r.node, r.rank_fp) for r in ranks.collect()},
            {(r.node, r.dist) for r in dists.collect()},
            {(r.node, r.hops) for r in hops.collect()},
            export(tag),
        )

    monkeypatch.setitem(PIN_MIN_ROWS, ("pagerank-fixed", "edges-od", "reliable"), 1)
    monkeypatch.setitem(PIN_MIN_ROWS, ("sssp-fixed", "edges", "reliable"), 1)
    with reliable_checkpoints():
        undisturbed = run_all("calm")

    before = cached_rdd_ids()
    dropped = []

    def losing_blocks(real):
        def staged_then_lose_blocks(self, *args, **kwargs):
            out = real(self, *args, **kwargs)
            for rdd_id in cached_rdd_ids() - before:
                jsc.env().blockManager().master().removeRdd(rdd_id, True)
                dropped.append(rdd_id)
            return out

        return staged_then_lose_blocks

    # ``materialize`` stages through these two DataFrame methods
    frame_cls = type(e)
    for owner, name in [
        (RoundCheckpointer, "__call__"),
        (frame_cls, "checkpoint"),
        (frame_cls, "localCheckpoint"),
    ]:
        monkeypatch.setattr(owner, name, losing_blocks(getattr(owner, name)))
    # a fresh directory: the documents table is staged again under the fault
    with reliable_checkpoints():
        assert run_all("lossy") == undisturbed
    assert dropped, "no cached RDD was dropped: the fault never fired"
    assert all(len(r) > 50 for r in undisturbed[:3])
    assert undisturbed[3][0]["n_docs"] > 0 and undisturbed[3][2]

    with _pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        G.pagerank_fixed(e, n_iter=6).collect()
    with _pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        export("local")


def test_triangle_stats_planted_k4_with_pendant(spark):
    """K4 plus a pendant hanging off node 1 — hand-checkable: every K4
    vertex sits in 3 of the 4 triangles; the hub (node 1, degree 4) has
    clustering 2·3/(4·3) = 0.5, the pure K4 vertices 1.0, the pendant 0.0.
    Edges arrive in mixed orientation with a duplicate and a self-loop to
    exercise canonicalization."""
    from etl_cloud_logistics_spark.operators.graph import triangle_stats

    edges = [
        (1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (4, 2), (3, 4),
        (5, 1), (3, 3),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: (r.degree, r.triangles, r.clustering)
        for r in triangle_stats(df).collect()
    }
    assert got == {
        1: (4, 3, 0.5),
        2: (3, 3, 1.0),
        3: (3, 3, 1.0),
        4: (3, 3, 1.0),
        5: (1, 0, 0.0),
    }


def test_triangle_stats_matches_bruteforce_random_graph(spark):
    """Seeded Erdős–Rényi graph: the oriented-wedge counts equal the
    itertools brute force exactly, node for node — including nodes in no
    triangle (count 0) and the coefficient arithmetic."""
    import itertools
    import random

    from etl_cloud_logistics_spark.operators.graph import triangle_stats

    rng = random.Random(411)
    n = 40
    und = sorted(
        {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.12}
    )
    adj = {v: set() for v in range(n)}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    exp_tri = {v: 0 for v in range(n)}
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                exp_tri[v] += 1
    df = spark.createDataFrame(und, "src long, dst long")
    got = {
        r.node: (r.degree, r.triangles, r.clustering)
        for r in triangle_stats(df).collect()
    }
    touched = {v for v in range(n) if adj[v]}
    assert set(got) == touched
    for v in touched:
        d = len(adj[v])
        exp_c = (2.0 * exp_tri[v]) / (d * (d - 1)) if d > 1 else 0.0
        assert got[v] == (d, exp_tri[v], exp_c), v


def test_triangle_support_flags_bridge_edges(spark):
    """Two triangles joined by one bridge edge: every clique edge closes
    exactly one triangle, the bridge closes none — the denoiser's
    keep/drop signal, with support-0 edges present in the output."""
    from etl_cloud_logistics_spark.operators.graph import triangle_support

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {(r.lo, r.hi): r.support for r in triangle_support(df).collect()}
    assert got == {
        (1, 2): 1, (2, 3): 1, (1, 3): 1,
        (4, 5): 1, (5, 6): 1, (4, 6): 1,
        (3, 4): 0,
    }


def test_triangle_support_consistent_with_triangle_stats(spark):
    """Same seeded random graph as the stats differential: Σ support =
    3·T (each triangle credits three edges), and per node Σ support over
    incident edges = 2·T(v) (each triangle at v covers two of v's edges)
    — ties the edge-level and node-level enumerations together exactly."""
    import random
    from collections import defaultdict

    from etl_cloud_logistics_spark.operators.graph import (
        triangle_stats,
        triangle_support,
    )

    rng = random.Random(411)
    n = 40
    und = sorted(
        {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.12}
    )
    df = spark.createDataFrame(und, "src long, dst long")
    sup = {(r.lo, r.hi): r.support for r in triangle_support(df).collect()}
    stats = {r.node: r.triangles for r in triangle_stats(df).collect()}
    assert set(sup) == set(und)
    assert sum(sup.values()) == 3 * (sum(stats.values()) // 3) == sum(stats.values())
    per_node = defaultdict(int)
    for (a, b), s in sup.items():
        per_node[a] += s
        per_node[b] += s
    for v, t in stats.items():
        assert per_node[v] == 2 * t, v


def test_truss_peel_planted_k5_with_pendant_triangle(spark):
    """K5 plus a pendant triangle {10,11,12} attached by bridge (5,10):
    at k=4 the bridge (support 0) and the pendant triangle (each edge in
    exactly 1 triangle < 2) peel away, leaving exactly K5 with every edge
    at support 3; at k=3 only the bridge peels.  Both peels reach their
    fixpoint in one round, so the second round must be a no-op.

    The k=4 peel also runs 14 rounds, 13 of them no-ops: each round's
    checkpoint must restart the plan's size estimate, or the estimate
    multiplies from round to round until stats estimation stalls the
    driver (the test_local_checkpoint_stats_stay_bounded pathology)."""
    import itertools

    from etl_cloud_logistics_spark.operators.graph import truss_peel

    k5 = list(itertools.combinations(range(1, 6), 2))
    edges = k5 + [(10, 11), (11, 12), (10, 12), (5, 10)]
    df = spark.createDataFrame(edges, "src long, dst long")

    rounds = 2

    got4 = {(r.lo, r.hi): r.support for r in truss_peel(df, rounds, k=4).collect()}
    assert got4 == {(a, b): 3 for a, b in k5}

    deep = truss_peel(df, 14, k=4)
    # py4j converts java BigInteger to a Python int
    bits = int(
        deep._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    ).bit_length()
    assert bits < 256, f"stats BigInt grew to {bits} bits"
    assert {(r.lo, r.hi): r.support for r in deep.collect()} == got4

    got3 = {(r.lo, r.hi): r.support for r in truss_peel(df, rounds, k=3).collect()}
    assert set(got3) == set(k5) | {(10, 11), (11, 12), (10, 12)}
    assert got3[(10, 11)] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        truss_peel(df, rounds, k=2)


def test_truss_peel_matches_bruteforce_random_graph(spark):
    """Seeded random graph: distributed peel == the driver-side peel loop
    (recompute support, drop < k-2, repeat to fixpoint), edges AND final
    supports, for k=3,4,5 — including the k where everything dies.  The
    distributed peel runs as many rounds as the driver loop took to reach
    its fixpoint, so the last round is a no-op on both sides."""
    import itertools
    import random

    from etl_cloud_logistics_spark.operators.graph import truss_peel

    rng = random.Random(1107)
    n = 30
    und = sorted(
        {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.18}
    )

    def brute(k):
        cur, rounds = set(und), 0
        while True:
            rounds += 1
            sup = {e: 0 for e in cur}
            for a, b, c in itertools.combinations(range(n), 3):
                if (a, b) in cur and (a, c) in cur and (b, c) in cur:
                    sup[(a, b)] += 1
                    sup[(a, c)] += 1
                    sup[(b, c)] += 1
            nxt = {e for e in cur if sup[e] >= k - 2}
            if nxt == cur:
                return {e: sup[e] for e in cur}, rounds
            cur = nxt

    df = spark.createDataFrame(und, "src long, dst long")
    for k in (3, 4, 5):
        exp, rounds = brute(k)
        got = {(r.lo, r.hi): r.support for r in truss_peel(df, rounds, k=k).collect()}
        assert got == exp, k


def test_sssp_fixed_hop_bounded_semantics(spark):
    """Direct w=10 edge vs a three-hop w=1+1+1 detour: round counts gate
    exactly which paths exist — R=1 sees 10, R=3 sees 3 — and rounds past
    convergence are exact no-ops."""
    from etl_cloud_logistics_spark.operators.graph import sssp_fixed

    edges = [(1, 2, 10), (1, 3, 1), (3, 4, 1), (4, 2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(1,)], "node long")

    def run(r):
        return {x.node: x.dist for x in sssp_fixed(df, seeds, n_rounds=r).collect()}

    assert run(1) == {1: 0, 2: 10, 3: 1}
    assert run(2) == {1: 0, 2: 10, 3: 1, 4: 2}
    assert run(3) == {1: 0, 2: 3, 3: 1, 4: 2}
    assert run(5) == run(3)

    import pytest as _pytest

    bad = spark.createDataFrame([(1, 2, 0.5)], "src long, dst long, w double")
    with _pytest.raises(TypeError):
        sssp_fixed(bad, seeds, n_rounds=1)


def test_sssp_fixed_matches_dijkstra_random_graph(spark):
    """Seeded random weighted digraph: n rounds ≥ any shortest-path depth,
    so the fixed-round result equals driver-side Dijkstra on the exact
    reachable set (sparse output — unreached nodes absent)."""
    import heapq
    import random

    from etl_cloud_logistics_spark.operators.graph import sssp_fixed

    rng = random.Random(2026)
    n = 35
    edges = [
        (a, b, rng.randint(1, 20))
        for a in range(n)
        for b in range(n)
        if a != b and rng.random() < 0.08
    ]
    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    dist = {0: 0}
    heap = [(0, 0)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist.get(u, float("inf")):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.dist for r in sssp_fixed(df, seeds, n_rounds=n).collect()}
    assert got == dist


def test_sssp_fixed_merge_carry_gate_is_semantics_preserving(
    spark, monkeypatch, reliable_checkpoints
):
    """The r12 big-graph carry (candidate-only MIN aggregation merged into
    the carried distances by a full-outer ``least()`` join, active only in
    the pinned LOCAL regime) must be a pure plan-shape knob: forcing the
    pin gate each way — and running reliable mode, which always keeps the
    union+groupBy carry — must give tuple-identical distances.  The graph
    plants the hop-bounded trap (a direct heavy edge beaten by a longer
    light path) so a carry that mis-merges a round would show."""
    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.operators import graph as G
    from etl_cloud_logistics_spark.operators.checkpointing import PIN_MIN_ROWS

    e = (
        spark.range(6_000)
        .select(
            (F.pmod(F.hash(F.col("id")), F.lit(900))).alias("src"),
            (F.pmod(F.hash(F.col("id") + 11), F.lit(900))).alias("dst"),
            (F.lit(1) + F.pmod(F.hash(F.col("id") + 5), F.lit(9)))
            .cast("long")
            .alias("w"),
        )
        .filter("src <> dst")
        .localCheckpoint(eager=True)
    )
    seeds = e.agg(F.min("src").alias("node"))
    pins = _record_pins(monkeypatch)
    # the SSSP local edge gate is tied to the PageRank one (10 edges/node)
    tie = ("pagerank-fixed", "edges-od", "local")
    monkeypatch.setitem(PIN_MIN_ROWS, tie, 10**9)  # union carry
    union_carry = {
        (r.node, r.dist) for r in G.sssp_fixed(e, seeds, n_rounds=5).collect()
    }
    monkeypatch.setitem(PIN_MIN_ROWS, tie, 1)  # merge carry
    merge_carry = {
        (r.node, r.dist) for r in G.sssp_fixed(e, seeds, n_rounds=5).collect()
    }
    assert pins == [("sssp-fixed", "src")], pins
    with reliable_checkpoints():
        reliable = {
            (r.node, r.dist) for r in G.sssp_fixed(e, seeds, n_rounds=5).collect()
        }
        # force the r12 reliable-mode edge pin too (the broadcast-flip
        # gate): pinned reliable must also be tuple-identical
        monkeypatch.setitem(PIN_MIN_ROWS, ("sssp-fixed", "edges", "reliable"), 1)
        reliable_pinned = {
            (r.node, r.dist) for r in G.sssp_fixed(e, seeds, n_rounds=5).collect()
        }
    assert pins == [("sssp-fixed", "src")] * 2, pins
    assert (
        merge_carry == union_carry == reliable == reliable_pinned
        and len(merge_carry) > 500
    )

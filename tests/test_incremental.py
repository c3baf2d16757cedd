"""Incremental aggregate maintenance (operators/incremental.py): delta
refresh equals full rebuild bit-for-bit, arbitrary fold orders agree
(monoid merge), and retractions fold through the same merge."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_cloud_logistics_spark.operators.incremental import (
    AggSpec,
    publish,
    refresh,
    refresh_ops,
)

SPEC = AggSpec(
    keys=["k"],
    measures=[
        ("n", "v", "count"),
        ("total_dec", "v", "sum"),
        ("lo", "v", "min"),
        ("hi", "v", "max"),
    ],
    derived=[
        ("total", lambda df: F.col("total_dec").cast("double")),
        ("avg", lambda df: F.col("total_dec").cast("double") / F.col("n")),
    ],
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v double")


def _out(df):
    return sorted(
        tuple(r) for r in df.select("k", "n", "total", "avg", "lo", "hi").collect()
    )


def test_incremental_equals_full_rebuild(spark):
    rows = [(i % 7, float(i) * 0.1 + 0.01) for i in range(500)]
    full = publish(refresh(None, _mk(spark, rows), SPEC), SPEC)
    state = None
    for start in range(0, 500, 137):  # uneven deltas, incl. a short tail
        state = refresh(state, _mk(spark, rows[start:start + 137]), SPEC)
    assert _out(publish(state, SPEC)) == _out(full)


def test_fold_order_irrelevant(spark):
    """Decimal partials make the merge associative AND exact — any delta
    order produces identical state (a double sum would drift)."""
    rows = [(1, 0.1), (1, 0.2), (2, 0.3), (1, 0.4), (2, 0.5), (2, 0.7)]
    a = refresh(refresh(None, _mk(spark, rows[:3]), SPEC), _mk(spark, rows[3:]), SPEC)
    b = refresh(refresh(None, _mk(spark, rows[3:]), SPEC), _mk(spark, rows[:3]), SPEC)
    assert _out(publish(a, SPEC)) == _out(publish(b, SPEC))


def test_delta_with_unseen_and_missing_keys(spark):
    """A delta may introduce new keys and omit existing ones; untouched
    keys carry through unchanged."""
    s0 = refresh(None, _mk(spark, [(1, 1.0), (2, 2.0)]), SPEC)
    s1 = refresh(s0, _mk(spark, [(3, 3.0)]), SPEC)
    out = {r["k"]: r["n"] for r in publish(s1, SPEC).collect()}
    assert out == {1: 1, 2: 1, 3: 1}


def test_unmergeable_kind_rejected():
    import pytest

    with pytest.raises(ValueError):
        AggSpec(keys=["k"], measures=[("a", "v", "avg")])


# count+sum only: the retractable (group, not just monoid) measure set
RSPEC = AggSpec(
    keys=["k"],
    measures=[("n", "v", "count"), ("total_dec", "v", "sum")],
    derived=[
        ("total", lambda df: F.col("total_dec").cast("double")),
        ("avg", lambda df: F.col("total_dec").cast("double") / F.col("n")),
    ],
)


def _mk_ops(spark, rows):
    return spark.createDataFrame(rows, "k int, v double, _op int")


def _rout(df):
    return sorted(tuple(r) for r in df.select("k", "n", "total", "avg").collect())


def test_retraction_refresh_equals_full_rebuild(spark):
    """Mixed insert/retract/update feed: the maintained state must equal a
    full rebuild over the SURVIVING rows bit-for-bit — the algebra claim
    the module docstring makes (count/sum partials form a group, so the
    compensating delta is an exact additive inverse in decimal)."""
    base = [(i % 5, float(i) * 0.1 + 0.01) for i in range(200)]
    state = refresh(None, _mk(spark, base), RSPEC)
    # delta: delete every 7th row, update every 11th (retract old + insert
    # new with v+1.0), insert 30 fresh rows — updates of deleted rows excluded
    deleted = {i for i in range(200) if i % 7 == 0}
    updated = {i for i in range(200) if i % 11 == 0} - deleted
    ops = (
        [(k, v, -1) for i, (k, v) in enumerate(base) if i in deleted]
        + [(k, v, -1) for i, (k, v) in enumerate(base) if i in updated]
        + [(k, v + 1.0, 1) for i, (k, v) in enumerate(base) if i in updated]
        + [(i % 5, float(i), 1) for i in range(200, 230)]
    )
    state = refresh_ops(state, _mk_ops(spark, ops), RSPEC)
    surviving = (
        [(k, v) for i, (k, v) in enumerate(base) if i not in deleted and i not in updated]
        + [(k, v + 1.0) for i, (k, v) in enumerate(base) if i in updated]
        + [(i % 5, float(i)) for i in range(200, 230)]
    )
    assert _rout(publish(state, RSPEC)) == _rout(
        publish(refresh(None, _mk(spark, surviving), RSPEC), RSPEC)
    )


def test_retraction_drops_fully_retracted_group(spark):
    """Retracting every row of a group must remove its state row entirely
    (a zero-count remnant would differ from a full rebuild row-for-row)."""
    state = refresh(None, _mk(spark, [(1, 2.0), (1, 3.0), (2, 4.0)]), RSPEC)
    state = refresh_ops(
        state, _mk_ops(spark, [(1, 2.0, -1), (1, 3.0, -1)]), RSPEC
    )
    out = {r["k"]: (r["n"], r["total"]) for r in publish(state, RSPEC).collect()}
    assert out == {2: (1, 4.0)}


def test_retraction_rejects_minmax_measures(spark):
    import pytest

    with pytest.raises(ValueError, match="not retractable"):
        refresh_ops(
            None,
            _mk_ops(spark, [(1, 1.0, 1)]),
            SPEC,  # SPEC carries min/max measures — monoid but not group
        )
    with pytest.raises(ValueError, match="liveness"):
        refresh_ops(
            None,
            _mk_ops(spark, [(1, 1.0, 1)]),
            AggSpec(keys=["k"], measures=[("total_dec", "v", "sum")]),
        )


def test_hll_distinct_incremental_equals_full_rebuild(spark):
    """Approx-distinct maintenance: HLL sketch partials merged across
    deltas must give the IDENTICAL estimate to a one-shot build (sketch
    union is commutative + associative and deterministic), and the
    estimate must sit within HLL error of the true distinct count."""
    HSPEC = AggSpec(
        keys=["k"],
        measures=[("n", "v", "count"), ("users", "u", "hll")],
        derived=[
            ("n_users", lambda df: F.hll_sketch_estimate("users")),
        ],
    )
    rows = [(i % 3, float(i), i % 97) for i in range(600)]
    mk = lambda part: spark.createDataFrame(part, "k int, v double, u int")
    full = {
        r["k"]: r["n_users"]
        for r in publish(refresh(None, mk(rows), HSPEC), HSPEC).collect()
    }
    state = None
    for start in range(0, 600, 151):  # uneven deltas with heavy overlap
        state = refresh(state, mk(rows[start:start + 151]), HSPEC)
    inc = {r["k"]: r["n_users"] for r in publish(state, HSPEC).collect()}
    assert inc == full  # identical estimates, not merely close
    true = {k: len({u for kk, _, u in rows if kk == k}) for k in (0, 1, 2)}
    for k in true:
        assert abs(inc[k] - true[k]) / true[k] < 0.05
    # sketches are not a group: retraction must be rejected
    import pytest

    with pytest.raises(ValueError, match="not retractable"):
        refresh_ops(None, _mk_ops(spark, [(1, 1.0, 1)]), HSPEC)

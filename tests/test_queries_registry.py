"""Registry-wide guards: every query runs at sf0.001 with a stable schema,
every oracle is valid DuckDB SQL, and names/columns line up — the cheap
full-coverage net under the per-query differential tests that
tools/verify_local.py (and the driver) run at sf0.01."""

from __future__ import annotations

import duckdb
import pytest

from etl_cloud_logistics_spark.queries import REGISTRY, _load_all

_load_all()


@pytest.fixture(scope="module")
def duck(sf_small):
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_small}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs_small(spark, sf_small, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_small)
    assert df.schema.fields, f"{name}: empty schema"
    assert df.count() >= 0


@pytest.mark.parametrize("name", sorted(n for n, s in REGISTRY.items() if s.oracle))
def test_oracle_parses_and_columns_match(spark, sf_small, duck, name):
    spec = REGISTRY[name]
    oracle_cols = [d[0] for d in duck.execute(spec.oracle).description]
    spark_cols = spec.fn(spark, sf_small).columns
    assert sorted(oracle_cols) == sorted(spark_cols), f"{name}: column drift"


# The driver hashes values through pandas: DuckDB HUGEINT (any uncast
# integer SUM) arrives as float64 while Spark's long is int64, so a
# type-sensitive hash mismatches even when every value agrees — the
# r5/r6 `temperature_mixture_sources` / `pagerank_copurchase` red rows.
# Whitelist the types that round-trip losslessly; anything else must be
# explicitly CAST at the oracle's output edge.
# INTEGER stays whitelisted (r8 ADVICE review) only because the typed hash
# is now WIDTH-sensitive (i32 vs i64 tags): an oracle INTEGER column whose
# Spark twin is long fails the dynamic hash gates below / in
# tools/verify_local.py, so the static DESCRIBE gate no longer silently
# blesses a cross-width drift.
_HASH_SAFE_DUCK_TYPES = {
    "BIGINT",
    "INTEGER",
    "DOUBLE",
    "VARCHAR",
    "DATE",
    "TIMESTAMP",
    "BOOLEAN",
}


@pytest.mark.parametrize("name", sorted(n for n, s in REGISTRY.items() if s.oracle))
def test_oracle_output_types_hash_safe(duck, name):
    """No implicit HUGEINT/DECIMAL ever reaches a hashed oracle output
    (r6 verdict item 1c).  DESCRIBE binds without executing, so this is a
    cheap static gate over every registered oracle, extras included."""
    spec = REGISTRY[name]
    desc = duck.execute("DESCRIBE " + spec.oracle).fetchall()
    offenders = [
        (col, typ) for col, typ, *_ in desc if typ.upper() not in _HASH_SAFE_DUCK_TYPES
    ]
    assert not offenders, (
        f"{name}: oracle emits hash-fragile DuckDB types {offenders} — "
        f"CAST at the output edge (uncast integer SUM is HUGEINT → pandas "
        f"float64 → driver hash mismatch vs Spark's int64)"
    )


@pytest.mark.parametrize(
    "name", sorted(n for n, s in REGISTRY.items() if s.extra and s.oracle)
)
def test_extra_query_values_match_oracle(spark, sf_small, duck, name):
    """The covering-set trim (round 2) moved redundant variants off the
    driver surface; this is the CI invariant that their correctness never
    rests on nothing — every extra=True query is differential-tested for
    EXACT values against its oracle here (sf0.001; verify_local repeats it
    at sf0.01)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.verify_local import compare, typed_hash

    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_small).toPandas()
    ddf = duck.execute(spec.oracle).df()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems[:3]}"
    # r7: extras obey the same TYPE-SENSITIVE hash discipline as driver
    # rows — value-equal-but-type-drifted outputs (HUGEINT→float64 vs
    # int64) must fail here, not on promotion into the driver window
    assert typed_hash(sdf) == typed_hash(ddf), (
        f"{name}: typed-hash mismatch (type drift, values equal): "
        f"spark={dict(sdf.dtypes.astype(str))} duck={dict(ddf.dtypes.astype(str))}"
    )


def test_q11_half_cent_mean_rounds_half_up_in_both_engines(spark, sf_small, tmp_path):
    """A month whose exact mean price is a half cent (0.28 and 0.29: mean
    0.285) prints 0.29 from the engine AND from its oracle.  Spark rounds
    the double mean through its shortest decimal form; the oracle must
    round the exact decimal mean — DuckDB's ``ROUND(double, 2)`` scales the
    binary double just below 0.285 and printed 0.28."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(f"{sf_small}/orders.parquet").remove_metadata()
    rows = {
        "o_orderkey": [1, 2],
        "o_custkey": [1, 1],
        "o_orderstatus": ["F", "F"],
        "o_totalprice": [0.28, 0.29],
        "o_orderdate": [datetime.datetime(1995, 1, 3), datetime.datetime(1995, 1, 9)],
        "o_orderpriority": ["1-URGENT", "1-URGENT"],
    }
    pq.write_table(pa.table(rows, schema=schema), str(tmp_path / "orders.parquet"))
    spec = REGISTRY["q11_monthly_trend"]
    engine = spec.fn(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{tmp_path}/orders.parquet')")
    oracle = con.execute(spec.oracle).df()
    assert [r["precio_promedio_viaje"] for r in engine] == [0.29]
    assert oracle["precio_promedio_viaje"].tolist() == [0.29]


def test_sql_api_over_registered_views(spark, sf_small):
    """spark.sql over the catalog's temp views matches the DataFrame path —
    the engine's second entry point (SURVEY.md §3.1)."""
    from etl_cloud_logistics_spark.catalog import register_views

    register_views(spark, sf_small)
    via_sql = spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_customers
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name ORDER BY n_customers DESC, n.n_name
        """
    ).collect()
    from etl_cloud_logistics_spark.catalog import load_table
    from pyspark.sql import functions as F

    nation = load_table(spark, sf_small, "nation")
    customer = load_table(spark, sf_small, "customer")
    via_df = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
        .orderBy(F.desc("n_customers"), "n_name")
        .collect()
    )
    assert [tuple(r) for r in via_sql] == [tuple(r) for r in via_df]


def test_register_query_views_sql_surface(spark, sf_small):
    """Every (lazy) registry query is reachable from plain SQL as a view,
    composes with further SQL (filters/aggregates over the view), and
    matches the DataFrame path."""
    from etl_cloud_logistics_spark.catalog import register_query_views

    names = register_query_views(spark, sf_small)
    assert len(names) >= 90
    via_sql = spark.sql(
        "SELECT COUNT(*) AS n FROM q04_volume_by_nation WHERE total_orders > 0"
    ).first()["n"]
    via_df = (
        REGISTRY["q04_volume_by_nation"].fn(spark, sf_small)
        .filter("total_orders > 0").count()
    )
    assert via_sql == via_df
    top = spark.sql(
        "SELECT doc_a FROM neardup_minhash_lsh ORDER BY jaccard DESC, doc_a LIMIT 1"
    ).collect()
    assert len(top) == 1


def test_with_recursive_sql_matches_bfs_operator(spark, sf_small):
    """Spark 4 runs the reachability query's WITH RECURSIVE text directly
    (the form a migrating-SQL user would paste in); the engine's
    frontier-dedup BFS operator must return the identical (part, hops)
    set.  The operator stays the registry's serving path — walk
    enumeration is a combinatorial bomb at corpus scale — but the SQL
    surface is pinned here so both entry points keep agreeing."""
    if tuple(int(x) for x in spark.version.split(".")[:2]) < (4, 0):
        pytest.skip("recursive CTE needs Spark 4")
    from etl_cloud_logistics_spark.catalog import register_views
    from etl_cloud_logistics_spark.queries.relational_ext import _SQL_BFS

    register_views(spark, sf_small)
    via_sql = {(r.part, r.hops) for r in spark.sql(_SQL_BFS).collect()}
    via_op = {
        (r.part, r.hops)
        for r in REGISTRY["reachable_parts_bfs"].fn(spark, sf_small).collect()
    }
    assert via_sql == via_op
    assert via_sql, "empty reachability set — seed or edge derivation broke"


@pytest.mark.slow_probe
def test_pagerank_fixed_8_iters_orders_like_converged_float(spark, sf_small):
    """The registry's fixed-point PageRank runs 8 iterations (r7: cut from
    12 to recover ~2 s); this pins what 8 rounds actually buy ON THE GRAPH
    THE REGISTRY SERVES: the head of the ranking (top 5) matches a
    fully-converged float power iteration (driver-side numpy over the
    collected edge list) exactly, and every ordering disagreement is
    confined to near-ties — pairs whose converged ranks differ by < 6%
    relative (power iteration's remaining error after 8 damped rounds is
    ~0.85^8 ≈ 27% of the initial gap, so near-tie swaps are inherent to
    ANY truncated iteration count; 12 rounds still swapped pairs within
    1.5%).  A swap across a larger-than-6% gap would mean 8 iterations
    lost real rank structure, not tie noise — that's the regression this
    guards."""
    import numpy as np

    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.cooccurrence import frequent_pairs
    from etl_cloud_logistics_spark.operators.graph import pagerank_fixed

    li = load_table(spark, sf_small, "lineitem")
    pairs = (
        frequent_pairs(li, "l_orderkey", "l_partkey", minsup=3)
        .select("item_a", "item_b")
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).union(pairs.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst")))
    fixed = {
        r.node: r.rank_fp for r in pagerank_fixed(edges, n_iter=8).collect()
    }
    # converged reference: dense power iteration on the Google matrix,
    # dangling mass spread uniformly (the graph is symmetric, so none)
    pairs_e = sorted({(r.src, r.dst) for r in edges.collect()})
    ids = sorted({v for pair in pairs_e for v in pair})
    idx = {v: i for i, v in enumerate(ids)}
    n, d = len(ids), 0.85
    src = np.array([idx[a] for a, _ in pairs_e])
    dst = np.array([idx[b] for _, b in pairs_e])
    out_deg = np.bincount(src, minlength=n).astype(float)
    r = np.full(n, 1.0 / n)
    for _ in range(1000):
        inflow = np.bincount(dst, weights=r[src] / out_deg[src], minlength=n)
        new = (1 - d) / n + d * (inflow + r[out_deg == 0].sum() / n)
        done = np.abs(new - r).sum() < 1e-13
        r = new
        if done:
            break
    flt = {v: float(r[idx[v]]) for v in ids}
    assert set(fixed) == set(flt)
    # head of the ranking is exact (ties broken by node id on both sides)
    top_float = sorted(flt, key=lambda v: (-flt[v], v))[:5]
    top_fixed = sorted(fixed, key=lambda v: (-fixed[v], v))[:5]
    assert top_fixed == top_float, f"top-5 drifted: {top_fixed} vs {top_float}"
    # every inversion is a near-tie: relative converged-rank gap < 6%
    nodes = sorted(fixed)
    bad = [
        (a, b, abs(flt[a] - flt[b]) / max(flt[a], flt[b]))
        for i, a in enumerate(nodes)
        for b in nodes[i + 1 :]
        if (flt[a] - flt[b]) * (fixed[a] - fixed[b]) <= 0
        and abs(flt[a] - flt[b]) / max(flt[a], flt[b]) >= 0.06
    ]
    assert not bad, f"inversions across non-tie gaps: {bad[:5]}"

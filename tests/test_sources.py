"""Sources/sinks tests (SURVEY.md §2.1: S5 JSON staging, S7 partitioned
lake, S8 keyed upsert)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_cloud_logistics_spark.catalog import SCHEMAS, load_table
from etl_cloud_logistics_spark.sources import (
    foreach_batch_upsert,
    upsert_parquet,
    write_json_staging,
    write_partitioned_lake,
)


def test_partitioned_lake_roundtrip_and_pruning(spark, sf_small, tmp_path):
    lake = str(tmp_path / "lake")
    orders = load_table(spark, sf_small, "orders")
    write_partitioned_lake(orders, lake, date_col="o_orderdate")

    full = spark.read.parquet(lake)
    assert full.count() == orders.count()

    # pick a real date and prune to it
    some_day = orders.select(F.to_date("o_orderdate").alias("d")).distinct().orderBy("d").first()["d"]
    day_str = some_day.isoformat()
    pruned = full.filter(F.col("ingest_date") == F.lit(day_str).cast("date"))
    expected = orders.filter(F.to_date("o_orderdate") == F.lit(day_str)).count()
    assert pruned.count() == expected

    # partition filter must reach the scan (pruned directories, not a post-filter)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_dynamic_partition_overwrite_replaces_only_touched_day(spark, tmp_path):
    lake = str(tmp_path / "lake2")
    schema = "k int, v string, d string"
    df1 = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"), (2, "b", "2024-01-02 00:00:00")],
        schema=schema,
    ).withColumn("d", F.col("d").cast("timestamp"))
    write_partitioned_lake(df1, lake, date_col="d")
    # rewrite day 2 only
    df2 = spark.createDataFrame([(3, "c", "2024-01-02 00:00:00")], schema=schema).withColumn(
        "d", F.col("d").cast("timestamp")
    )
    write_partitioned_lake(df2, lake, date_col="d")
    out = {(r["k"], r["v"]) for r in spark.read.parquet(lake).collect()}
    assert out == {(1, "a"), (3, "c")}


def test_json_staging_roundtrip(spark, sf_small, tmp_path):
    staging = str(tmp_path / "staging")
    nation = load_table(spark, sf_small, "nation")
    write_json_staging(nation, staging, batch_id="b1")
    staged = spark.read.parquet(staging)
    assert set(staged.columns) == {"raw_data", "batch_id", "load_timestamp"}
    back = staged.filter(F.col("batch_id") == "b1").select(
        F.from_json("raw_data", SCHEMAS["nation"]).alias("doc")
    ).select("doc.*")
    assert back.count() == nation.count()
    orig = {tuple(r) for r in nation.collect()}
    rt = {(r["n_nationkey"], r["n_name"], r["n_regionkey"]) for r in back.collect()}
    assert rt == orig


def test_upsert_parquet_last_writer_wins(spark, tmp_path):
    path = str(tmp_path / "state")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("status", T.StringType()),
            T.StructField("version", T.LongType()),
        ]
    )
    v1 = spark.createDataFrame([(1, "pending", 10), (2, "pending", 11)], schema)
    upsert_parquet(spark, path, v1, keys=["user_id"], version_col="version")
    v2 = spark.createDataFrame([(1, "delivered", 20), (3, "pending", 12)], schema)
    merged = upsert_parquet(spark, path, v2, keys=["user_id"], version_col="version")
    got = {(r["user_id"], r["status"], r["version"]) for r in merged.collect()}
    assert got == {(1, "delivered", 20), (2, "pending", 11), (3, "pending", 12)}
    # stale update must NOT win
    v3 = spark.createDataFrame([(1, "ancient", 5)], schema)
    merged = upsert_parquet(spark, path, v3, keys=["user_id"], version_col="version")
    assert {(r["user_id"], r["status"]) for r in merged.collect()} == {
        (1, "delivered"),
        (2, "pending"),
        (3, "pending"),
    }


def test_foreach_batch_upsert_streaming(spark, sf_small, tmp_path):
    """Drive the upsert sink from an actual micro-batch stream (ST2/ST5)."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state_stream")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_small, "events").limit(200)
    events.write.parquet(src)

    from etl_cloud_logistics_spark.streaming.jobs import read_event_stream

    stream = read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_upsert(state, keys=["user_id"], version_col="event_id")
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    final = spark.read.parquet(state)
    expected = (
        events.groupBy("user_id")
        .agg(F.max("event_id").alias("event_id"))
        .count()
    )
    assert final.count() == expected
    # per user the surviving row carries the max event_id
    top = (
        events.groupBy("user_id").agg(F.max("event_id").alias("max_id")).collect()
    )
    got = {r["user_id"]: r["event_id"] for r in final.collect()}
    for r in top:
        assert got[r["user_id"]] == r["max_id"]


def test_generator_deterministic_and_invariants(spark):
    from etl_cloud_logistics_spark.sources.generator import generate_trips_like

    a = generate_trips_like(spark, 5000, seed=7).collect()
    b = generate_trips_like(spark, 5000, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # same seed → same data

    df = generate_trips_like(spark, 5000, seed=7)
    # temporal consistency by construction (the reference's invariant)
    assert df.filter(F.col("arrival_datetime") <= F.col("departure_datetime")).count() == 0
    # FK ranges respected
    assert df.filter((F.col("vehicle_id") < 0) | (F.col("vehicle_id") >= 200)).count() == 0
    # weighted status roughly matches 85/5/10
    frac = {
        r["status"]: r["count"] / 5000
        for r in df.groupBy("status").count().collect()
    }
    assert abs(frac["completed"] - 0.85) < 0.03
    assert abs(frac["cancelled"] - 0.05) < 0.02


def test_small_heavy_scans_are_parallelized(spark, sf_small):
    """documents/embeddings are per-row-expensive (shingles, cosine folds):
    a one-row-group parquet file must not pin the whole corpus to ONE task
    (catalog._parallelize_small_heavy_scan — measured 8x on the quality
    battery at sf0.1).  The materialized layout must also be a pushdown
    barrier: without it Catalyst pushes expensive predicates back below
    the exchange onto the single-task scan."""
    from etl_cloud_logistics_spark.catalog import load_table

    target = spark.sparkContext.defaultParallelism
    for t in ("documents", "embeddings"):
        df = load_table(spark, sf_small, t)
        assert df.rdd.getNumPartitions() >= min(target, 8), t
    # fact/dim tables keep their native scan layout (no gratuitous shuffle)
    plan = load_table(spark, sf_small, "orders")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_heavy_scan_parallelization_noop_at_scale(spark, sf_small):
    """The small-scan guard must be a structural NO-OP when the scan would
    already produce enough splits (the 100 TB case, simulated by shrinking
    maxPartitionBytes so estimated splits >= parallelism): no repartition,
    no materialization — the native scan plan unchanged."""
    from etl_cloud_logistics_spark import catalog

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    key = None
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64b")
        # bypass the table cache so load_table re-evaluates the guard
        key = (catalog._session_identity(spark), sf_small, "documents")
        catalog._TABLE_CACHE.pop(key, None)
        df = catalog.load_table(spark, sf_small, "documents")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Scan ExistingRDD" not in plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        if key is not None:
            catalog._TABLE_CACHE.pop(key, None)


def test_orc_roundtrip_and_predicate_pushdown(spark, sf_small, tmp_path):
    """The lake surface is format-agnostic where Spark is: ORC round-trips
    the orders table bit-for-bit (values AND schema), partition pruning
    works on a partitioned ORC layout, and a filter reaches the ORC scan
    as a pushed-down predicate (the same scan contract the parquet tests
    pin — searchArgument/pushed-filters in the scan node)."""
    from etl_cloud_logistics_spark.catalog import load_table

    orders = load_table(spark, sf_small, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").orc(path)

    back = spark.read.orc(path)
    assert sorted(back.columns) == sorted(orders.columns)
    want = sorted(tuple(r) for r in orders.select(*sorted(orders.columns)).collect())
    got = sorted(tuple(r) for r in back.select(*sorted(orders.columns)).collect())
    assert got == want

    # partition pruning: only the 'O' directory is read
    pruned = back.filter(F.col("o_orderstatus") == "O")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "o_orderstatus" not in plan or "PartitionFilters" in plan or "o_orderstatus=O" in plan
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "O").count()

    # predicate pushdown on a data column reaches the ORC scan
    filtered = back.filter(F.col("o_totalprice") > 100000.0)
    fplan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in fplan and "o_totalprice" in fplan.split("PushedFilters: [", 1)[1][:200], fplan[:800]
    assert filtered.count() == orders.filter(F.col("o_totalprice") > 100000.0).count()


def _file_ranges(path, cols):
    """Per-file [min, max] of each column, from the parquet footers."""
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        schema = md.schema.to_arrow_schema()
        rng = {}
        for c in cols:
            idx = schema.get_field_index(c)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            rng[c] = (min(mins), max(maxs))
        out.append(rng)
    return out


def test_zorder_write_skips_files_on_both_dims(spark, sf_small, tmp_path):
    """The z-order layout claim, pinned on real footer statistics (r11 —
    the manifest tests in test_snapshots.py pin the kit's OWN read_pruned;
    this pins what a PLAIN parquet reader sees): the SAME rows written
    z-clustered on (user_id, value) via sources.layout.cluster_by_zorder
    admit far fewer candidate files than a round-robin layout of the same
    file count, for conjunctive predicates on BOTH dims."""
    from etl_cloud_logistics_spark.sources.layout import cluster_by_zorder

    events = load_table(spark, sf_small, "events").select(
        "event_id", "user_id", "value"
    )
    n_files = 16
    zpath, rpath = str(tmp_path / "zorder"), str(tmp_path / "roundrobin")
    cluster_by_zorder(events, ["user_id", "value"], n_files).write.mode(
        "overwrite"
    ).parquet(zpath)
    events.repartition(n_files).write.mode("overwrite").parquet(rpath)

    # identical row set — layout is metadata, not semantics
    got = sorted(r.event_id for r in spark.read.parquet(zpath).collect())
    want = sorted(r.event_id for r in events.collect())
    assert got == want

    zr = _file_ranges(zpath, ["user_id", "value"])
    rr = _file_ranges(rpath, ["user_id", "value"])
    assert len(zr) == len(rr) == n_files

    def candidates(franges, uid, vlo, vhi):
        return sum(
            1
            for r in franges
            if r["user_id"][0] <= uid <= r["user_id"][1]
            and not (vhi < r["value"][0] or vlo > r["value"][1])
        )

    # probe a grid of conjunctive predicates spanning both dims (sf0.001
    # events: user_id 0-14, value ~0-330)
    probes = [
        (uid, v, v + 10.0) for uid in (1, 4, 7, 10, 13) for v in (20.0, 100.0, 250.0)
    ]
    z_total = sum(candidates(zr, *p) for p in probes)
    r_total = sum(candidates(rr, *p) for p in probes)
    # round-robin files span most of the space (not all: a 60-row sample
    # can miss a sparse tail band), so most probes admit most files
    assert r_total >= 0.6 * len(probes) * n_files, (r_total, len(probes) * n_files)
    # z-order must prune at least half of the file reads across the grid
    assert z_total <= 0.5 * r_total, (z_total, r_total)


def test_zorder_key_for_validation_and_degeneracy(spark, sf_small):
    from etl_cloud_logistics_spark.sources.layout import zorder_key_for

    events = load_table(spark, sf_small, "events")
    with pytest.raises(ValueError, match="at least one clustering column"):
        zorder_key_for(events, [])
    # constant and all-NULL columns land in bucket 0 (nulls-first contract)
    # instead of dividing by zero
    degen = events.select(
        "event_id",
        F.lit(7.0).alias("c"),
        F.lit(None).cast("double").alias("dead"),
        "value",
    )
    key = zorder_key_for(degen, ["c", "dead", "value"])
    assert degen.withColumn("z", key).filter("z IS NULL").count() == 0


def test_zorder_scan_prunes_dim_a_single_sort_cannot(spark, tmp_path):
    """End-to-end reader half of the z-order story (the footer test proves
    the stats; this proves Spark's scan USES them, intra-file): for a
    predicate on the dimension a single-column sort did NOT sort by, the
    sorted layout reads everything while the z-ordered layout's row groups
    — clustered in BOTH dims — prune an order of magnitude of scan output.
    Tiny parquet.block.size forces many row groups per file, the intra-file
    form that matters at 100 TB (file ~1 GB, row group ~128 MB)."""
    from etl_cloud_logistics_spark.sources.layout import cluster_by_zorder

    data = spark.range(200_000).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("u"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100_000)) / 100.0).alias("v"),
        F.hex(F.xxhash64("id", F.lit(2))).alias("payload"),
    )
    tiny = {"parquet.block.size": str(64 * 1024)}
    zpath = str(tmp_path / "z")
    upath = str(tmp_path / "usort")
    cluster_by_zorder(data, ["u", "v"], 2).write.mode("overwrite").options(
        **tiny
    ).parquet(zpath)
    # control: classic single-column clustering on u only
    data.repartitionByRange(2, "u").sortWithinPartitions("u").write.mode(
        "overwrite"
    ).options(**tiny).parquet(upath)

    lo, hi = 400.0, 410.0  # ~1% band on v, unbounded u

    def scan_rows(df) -> tuple[int, int]:
        filtered = df.filter((F.col("v") >= lo) & (F.col("v") <= hi))
        n = len(filtered.collect())  # collect: this frame's own execution
        plan = filtered._jdf.queryExecution().executedPlan()
        leaves = plan.collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numOutputRows"):
                total += m.apply("numOutputRows").value()
        return n, total

    n_z, scanned_z = scan_rows(spark.read.parquet(zpath))
    n_u, scanned_u = scan_rows(spark.read.parquet(upath))
    assert n_z == n_u > 0  # identical answers
    assert scanned_u >= 200_000  # u-sort can't skip a v predicate at all
    assert scanned_z * 5 <= scanned_u, (scanned_z, scanned_u)


def test_zorder_quantile_bucketing_rescues_skewed_columns(spark, tmp_path):
    """The documented z-order caveat, now closed: under min/max scaling a
    Zipf-like column piles into one bucket (its huge max stretches the
    scale), its interleaved bits carry nothing, and pruning on it dies.
    Quantile (equal-population) bucketing spends every bit on real data
    density.  Footer-pinned: narrow bands in the DENSE low region of the
    skewed dim admit far fewer candidate files under quantile bucketing
    than uniform, at identical file counts and row sets."""
    from etl_cloud_logistics_spark.sources.layout import cluster_by_zorder

    # skewed dim: ~ 2^(hash % 24) spans 1..8.4e6 with mass at small values;
    # second dim uniform
    data = spark.range(100_000).select(
        F.pow(F.lit(2.0), F.pmod(F.xxhash64("id"), F.lit(24)).cast("double"))
        .alias("s"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10_000)).alias("u"),
        F.col("id"),
    )
    n_files = 16
    qpath, upath = str(tmp_path / "quant"), str(tmp_path / "unif")
    cluster_by_zorder(data, ["s", "u"], n_files, bucketing="quantile").write.mode(
        "overwrite"
    ).parquet(qpath)
    cluster_by_zorder(data, ["s", "u"], n_files).write.mode("overwrite").parquet(
        upath
    )

    # same rows either way
    assert (
        spark.read.parquet(qpath).agg(F.sum("id")).first()[0]
        == spark.read.parquet(upath).agg(F.sum("id")).first()[0]
    )
    qr = _file_ranges(qpath, ["s"])
    ur = _file_ranges(upath, ["s"])
    assert len(qr) == len(ur) == n_files

    def admits(franges, lo, hi):
        return sum(1 for r in franges if not (hi < r["s"][0] or lo > r["s"][1]))

    # dense-region bands: powers of two 1..2^11 (over 99% of rows live
    # below 2^12 is false — mass is uniform over exponents, but each band
    # is dense in ROWS relative to its value width)
    bands = [(2.0**e, 2.0**e) for e in range(0, 12)]
    q_total = sum(admits(qr, *b) for b in bands)
    u_total = sum(admits(ur, *b) for b in bands)
    # uniform scaling: all these values land in bucket 0 -> every file's
    # s-range covers them -> no pruning; quantile must at least halve it
    assert q_total * 2 <= u_total, (q_total, u_total)


def test_quantile_bucket_tree_matches_bisect(spark):
    """The balanced comparison tree must compute exactly
    bisect.bisect_right(boundaries, value) — the rank-bucket contract —
    for every branch shape: values below/above all boundaries, equal to a
    boundary (>= counts it, so ties go RIGHT), between boundaries, NULL
    (all-left path to bucket 0), and boundary lists whose length is not a
    power of two (uneven tree)."""
    import bisect

    from etl_cloud_logistics_spark.sources.layout import _BITS, _bucket_quantile

    for boundaries in ([1.0, 3.0, 7.0], [2.5], [0.0, 1.0, 2.0, 3.0, 4.0]):
        scale = (1 << _BITS) // (len(boundaries) + 1)
        vals = sorted(
            {b + d for b in boundaries for d in (-0.5, 0.0, 0.5)} | {-99.0, 99.0}
        )
        df = spark.createDataFrame([(v,) for v in vals], "v double").withColumn(
            "b", _bucket_quantile(F.col("v"), boundaries)
        )
        got = {r["v"]: r["b"] for r in df.collect()}
        for v in vals:
            assert got[v] == bisect.bisect_right(boundaries, v) * scale, (
                boundaries,
                v,
            )
        nulls = spark.createDataFrame([(None,)], "v double").withColumn(
            "b", _bucket_quantile(F.col("v"), boundaries)
        )
        assert nulls.first()["b"] == 0

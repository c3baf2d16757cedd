"""End-to-end daily-ETL pipeline tests (SURVEY.md §3.2): two incremental
runs, SCD2 invariants, idempotent re-run, audit trail."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_cloud_logistics_spark.catalog import load_table
from etl_cloud_logistics_spark.pipelines import run_daily_etl


def _two_busy_days(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    days = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .count()
        .orderBy(F.desc("count"), "d")
        .limit(2)
        .collect()
    )
    return sorted(r["d"].isoformat() for r in days)


def test_daily_etl_two_runs(spark, sf_small, tmp_path):
    wh = str(tmp_path / "wh")
    day1, day2 = _two_busy_days(spark, sf_small)

    a1 = run_daily_etl(spark, sf_small, wh, day1)
    assert a1.status == "success"
    assert a1.records["staging"] > 0
    assert a1.records["fact_orders"] > 0

    a2 = run_daily_etl(spark, sf_small, wh, day2)
    assert a2.status == "success"

    # dim_date accumulated both days, no duplicates
    dim_date = spark.read.parquet(os.path.join(wh, "dim_date"))
    assert dim_date.count() == 2
    assert dim_date.select("date_key").distinct().count() == 2

    # SCD2 invariant on BOTH tracked dimensions (ref dual SCD2, 04:53-85):
    # exactly one current row per key, no overlaps
    for dim_name, key in (("dim_customer", "c_custkey"), ("dim_supplier", "s_suppkey")):
        dim = spark.read.parquet(os.path.join(wh, dim_name))
        per_key = dim.groupBy(key).agg(
            F.sum(F.col("is_current").cast("int")).alias("n_current")
        )
        assert per_key.filter(F.col("n_current") != 1).count() == 0, dim_name
    assert a2.records["dim_supplier"] > 0

    # the PAIR of report tables exists (ref dual reports)
    status_report = spark.read.parquet(os.path.join(wh, "report_status_totals"))
    assert status_report.count() > 0
    assert "o_orderstatus" in status_report.columns

    # fact is date-partitioned; both days present
    fact = spark.read.parquet(os.path.join(wh, "fact_orders"))
    assert {r["ingest_date"].isoformat() for r in fact.select("ingest_date").distinct().collect()} == {
        day1,
        day2,
    }
    # every fact row resolved a customer-dim version and carries QA columns
    assert fact.filter(F.col("customer_version_from").isNull()).count() == 0
    assert "qa_passed" in fact.columns and "is_outlier" in fact.columns

    # audit log has one row per run
    logs = [
        json.loads(line)
        for f in os.listdir(os.path.join(wh, "load_logs"))
        if f.endswith(".json") or f.startswith("part-")
        for line in open(os.path.join(wh, "load_logs", f))
        if line.strip()
    ]
    assert len([r for r in logs if r["status"] == "success"]) == 2


def test_daily_etl_rerun_is_idempotent(spark, sf_small, tmp_path):
    wh = str(tmp_path / "wh2")
    day1, _ = _two_busy_days(spark, sf_small)

    run_daily_etl(spark, sf_small, wh, day1)
    fact1 = spark.read.parquet(os.path.join(wh, "fact_orders"))
    n1 = fact1.count()
    keys1 = {r["o_orderkey"] for r in fact1.select("o_orderkey").collect()}

    run_daily_etl(spark, sf_small, wh, day1)  # same day again
    fact2 = spark.read.parquet(os.path.join(wh, "fact_orders"))
    assert fact2.count() == n1  # dynamic overwrite, no append-duplication
    assert {r["o_orderkey"] for r in fact2.select("o_orderkey").collect()} == keys1

    # SCD2 stays single-current after the no-change rerun
    dim_cust = spark.read.parquet(os.path.join(wh, "dim_customer"))
    per_key = dim_cust.groupBy("c_custkey").agg(
        F.sum(F.col("is_current").cast("int")).alias("n_current")
    )
    assert per_key.filter(F.col("n_current") != 1).count() == 0
    # and no phantom closed versions were created
    assert dim_cust.filter(~F.col("is_current")).count() == 0


def test_scd2_attribute_change_creates_version(spark, sf_small, tmp_path):
    """Simulate an attribute change between runs by staging a mutated
    customer row through the SCD2 path directly."""
    import etl_cloud_logistics_spark.pipelines as P

    wh = str(tmp_path / "wh3")
    day1, day2 = _two_busy_days(spark, sf_small)
    run_daily_etl(spark, sf_small, wh, day1)

    dim_path = os.path.join(wh, "dim_customer")
    dim = spark.read.parquet(dim_path)
    victim = dim.orderBy("c_custkey").first()

    from etl_cloud_logistics_spark.operators.scd2 import scd2_apply

    staged = (
        dim.filter(F.col("c_custkey") == victim["c_custkey"])
        .select(*P.DIM_CUSTOMER_KEYS, *P.DIM_CUSTOMER_TRACKED)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
    )
    merged = scd2_apply(
        dim, staged, P.DIM_CUSTOMER_KEYS, P.DIM_CUSTOMER_TRACKED, effective_date=day2
    )
    rows = merged.filter(F.col("c_custkey") == victim["c_custkey"]).collect()
    assert len(rows) == 2
    closed = [r for r in rows if not r["is_current"]][0]
    opened = [r for r in rows if r["is_current"]][0]
    assert closed["valid_to"] == opened["valid_from"]
    assert opened["c_acctbal"] == victim["c_acctbal"] + 1000.0


def test_incremental_report_equals_full_rebuild(spark, sf_small, tmp_path):
    """The day-grain incremental report rollup must equal an aggregate
    computed directly over the whole fact, and re-running a day must not
    double-count."""
    from etl_cloud_logistics_spark.functions import sum_exact

    wh = str(tmp_path / "whr")
    day1, day2 = _two_busy_days(spark, sf_small)
    run_daily_etl(spark, sf_small, wh, day1)
    run_daily_etl(spark, sf_small, wh, day2)
    run_daily_etl(spark, sf_small, wh, day2)  # rerun: dynamic overwrite, no dup

    fact = spark.read.parquet(os.path.join(wh, "fact_orders"))
    expect = {
        r["c_mktsegment"]: (r["n"], r["rev"])
        for r in fact.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.round(sum_exact("net_revenue"), 2).alias("rev"),
        )
        .collect()
    }
    report = spark.read.parquet(os.path.join(wh, "report_segment_totals"))
    got = {
        r["c_mktsegment"]: (r["n_orders"], r["total_revenue"]) for r in report.collect()
    }
    assert got == expect


def test_pipeline_writes_dq_report(spark, sf_small, tmp_path):
    wh = str(tmp_path / "whdq")
    day1, _ = _two_busy_days(spark, sf_small)
    audit = run_daily_etl(spark, sf_small, wh, day1)
    assert audit.records["dq_failed"] == 0  # clean testdata passes the gate
    dq = spark.read.parquet(os.path.join(wh, "dq_reports"))
    assert {r["expectation"] for r in dq.collect()} == {
        "n_items_positive",
        "c_mktsegment_not_null",
        "date_key_not_null",
        "o_orderkey_unique",
    }
    assert dq.filter(~F.col("passed")).count() == 0


def _recount(spark, wh, run_date):
    """Each audit record recounted from the landed tables with inferred
    schemas: the meaning the pre-observation read-backs had."""
    day = F.lit(run_date).cast("date")

    def table(name):
        return spark.read.parquet(os.path.join(wh, name))

    staged = table("staging").filter(F.col("batch_id") == run_date)
    # staging appends; this run's rows share one load_timestamp, the latest
    last = staged.agg(F.max("load_timestamp")).first()[0]
    return {
        "staging": staged.filter(F.col("load_timestamp") == last).count(),
        "dim_date": table("dim_date").count(),
        "dim_customer": table("dim_customer").count(),
        "dim_supplier": table("dim_supplier").count(),
        "fact_orders": table("fact_orders").filter(F.col("ingest_date") == day).count(),
        "dq_failed": table("dq_reports")
        .filter((F.col("run_date") == day) & ~F.col("passed"))
        .count(),
        "report_segment_totals": table("report_segment_totals").count(),
        "report_status_totals": table("report_status_totals").count(),
    }


def test_daily_etl_audit_counts_equal_recounts(spark, sf_small, tmp_path):
    """Every audit count is observed on the write that lands its table; after
    a first day, a second day and a rerun of the second day (append, merge
    and idempotent-overwrite paths), each equals an independent recount of
    what landed."""
    wh = str(tmp_path / "wh_audit")
    day1, day2 = _two_busy_days(spark, sf_small)
    for run_date in (day1, day2, day2):
        audit = run_daily_etl(spark, sf_small, wh, run_date)
        assert audit.status == "success"
        assert audit.records == _recount(spark, wh, run_date), run_date
    assert audit.records["staging"] > 0 and audit.records["dim_date"] == 2


def test_daily_etl_incremental_day_executions(spark, sf_small, tmp_path):
    """An incremental day runs 12 SQL executions: one write per landed
    table (staging, dim_date, two dimensions, fact, DQ, two tables per
    report, load_logs) plus the whole-``dim_date`` count.  Before the audit
    counts were observed on the writes, a day ran 19 (each table was read
    back and counted after its write).  The count is the number of actions,
    so it does not depend on the host or the data."""
    from etl_cloud_logistics_spark.metrics import ExecutionMeter

    wh = str(tmp_path / "wh_meter")
    day1, day2 = _two_busy_days(spark, sf_small)
    run_daily_etl(spark, sf_small, wh, day1)
    meter = ExecutionMeter(spark)
    run_daily_etl(spark, sf_small, wh, day2)
    assert len(meter.read().executions) == 12


def test_daily_etl_failed_write_logs_error_and_raises(spark, sf_small, tmp_path):
    """A failing table write propagates, leaves one ``error`` row with the
    message in ``load_logs``, and returns promptly: no observed count is
    awaited for the writes after it, which never run."""
    import threading

    wh = str(tmp_path / "wh_fail")
    os.makedirs(wh)
    with open(os.path.join(wh, "fact_orders"), "w") as f:
        f.write("a regular file where the fact table's directory belongs\n")
    day1, _ = _two_busy_days(spark, sf_small)

    outcome = {}

    def run():
        try:
            run_daily_etl(spark, sf_small, wh, day1)
        except Exception as e:
            outcome["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive(), "run_daily_etl still waiting after its write failed"
    assert "error" in outcome

    logs = spark.read.json(os.path.join(wh, "load_logs")).collect()
    assert len(logs) == 1
    assert logs[0]["status"] == "error"
    assert logs[0]["error_message"] == str(outcome["error"])[:500]
    assert logs[0]["error_message"]


def test_run_curation_export_end_to_end(spark, sf_small, tmp_path):
    """The training-export composition: curated train docs land in
    deterministic shards with payload, the packing assignment covers
    exactly the train split, and the manifest reconciles with both."""
    import os

    from pyspark.sql import functions as F

    from etl_cloud_logistics_spark.pipelines import run_curation_export
    from etl_cloud_logistics_spark.queries.curation_ops import (
        curation_pipeline_end2end,
    )

    out = str(tmp_path / "export")
    info = run_curation_export(spark, sf_small, out, n_shards=4, pack_budget=256)

    curated = curation_pipeline_end2end(spark, sf_small).collect()
    train_ids = {r["doc_id"] for r in curated if r["split"] == "train"}
    assert info["n_docs"] == len(curated)

    shards = spark.read.parquet(os.path.join(out, "shards"))
    assert {r["doc_id"] for r in shards.collect()} == train_ids
    assert shards.filter(F.col("text").isNull()).count() == 0
    # one parquet file per written shard directory (loader resume contract)
    base = os.path.join(out, "shards", "split=train")
    for d in os.listdir(base):
        if d.startswith("shard="):
            files = [f for f in os.listdir(os.path.join(base, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)

    packing = spark.read.parquet(os.path.join(out, "packing"))
    assert {r["doc_id"] for r in packing.collect()} == train_ids
    # capacity invariant on non-oversize bins
    over = (
        packing.filter(~F.col("oversize"))
        .groupBy("bucket", "bin_id")
        .agg(F.sum("n_tokens").alias("fill"))
        .filter(F.col("fill") > 256)
        .count()
    )
    assert over == 0

    manifest = spark.read.parquet(os.path.join(out, "manifest"))
    m_train = manifest.filter(F.col("split") == "train").agg(F.sum("n_docs")).first()[0]
    assert m_train == len(train_ids)


def test_index_build_pipeline_end_to_end(spark, sf_med, tmp_path):
    """The ANN deployment flow: train + build + persist to a versioned
    table + serve FROM STORAGE + recall report.  Reconciles: the stored
    index is complete and float-free, the model is persisted, serving from
    the stored version works, and the reported recall matches the measured
    IVF floor (nprobe=2 -> >= 0.7 on this corpus, figures in COVERAGE.md);
    a rebuild commits a NEW version, leaving the served one readable."""
    import json as _json

    from etl_cloud_logistics_spark.pipelines import run_index_build
    from etl_cloud_logistics_spark.sources.snapshots import SnapshotTable

    out = str(tmp_path / "annout")
    report = run_index_build(spark, sf_med, out, n_clusters=8, nprobe=2, k=3)
    assert report["index_rows"] == 500
    assert 0.7 <= report["recall_at_k"] <= 1.0
    t = SnapshotTable(f"{out}/ann_index")
    idx = t.read(spark, report["index_version"])
    assert set(idx.columns) == {"neighbor_id", "bucket", "codes", "approx_norm"}
    assert "embedding" not in idx.columns  # float-free scored index
    model = _json.load(open(report["model_path"]))
    assert len(model["centroids"]) == 8 and len(model["lo"]) == 64
    # rebuild: new version, old one still readable (time travel)
    report2 = run_index_build(spark, sf_med, out, n_clusters=8, nprobe=2, k=3)
    assert report2["index_version"] == report["index_version"] + 1
    assert t.read(spark, report["index_version"]).count() == 500


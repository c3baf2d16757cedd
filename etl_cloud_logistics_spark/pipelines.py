"""End-to-end daily incremental ETL pipeline — the engine-native analog of
the reference's ``scripts/05_etl_pipeline/etl_pipeline.py`` run loop
(extract → stage raw → transform dims (SCD2) → build fact → load → report →
audit log), composed from this package's operators.

Key departures from the reference, all deliberate (SURVEY.md §3.2):
- ONE lazy DataFrame graph per run: intermediates never materialize to the
  driver (the reference round-trips every stage through driver-local pandas);
- each landed table costs one action, its write: the audit counts are
  metrics observed on the written frames (``_counted``), not a second
  count over the table read back, and tables this run defines are re-read
  with their known schema, so no schema-inference job runs;
- the SCD2 merge actually executes (the reference generates the MERGE SQL
  and leaves it commented out, etl_pipeline.py:1087-1090);
- loads are partitioned parquet with dynamic partition overwrite, so
  re-running a day is idempotent instead of append-duplicating.

Scale notes (100 TB): the only wide operations per run are (a) the fact's
orders⋈lineitem join, keyed on orderkey, and (b) the SCD2 classify join,
keyed on the natural key — both single shuffles AQE can size and de-skew.
Dimension lookups broadcast.  The daily extract is partition-pruned by the
run date, so cost scales with the day's slice, not table history.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import load_table
from .functions import date_key, sum_exact
from .operators.checkpointing import materialize
from .operators.dims import generate_dim_date
from .operators.quality import flag_outliers, qa_flags
from .operators.scd2 import scd2_apply, scd2_asof_lookup
from .sources.lake import write_partitioned_lake
from .sources.staging import write_json_staging
from .sources.upsert import atomic_overwrite

DIM_CUSTOMER_KEYS = ["c_custkey"]
DIM_CUSTOMER_TRACKED = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
# second SCD2 dimension (the reference tracks SCD2 on BOTH dim_vehicle and
# dim_driver, 04_dimensional_model.sql:53-85 — supplier is our second dim)
DIM_SUPPLIER_KEYS = ["s_suppkey"]
DIM_SUPPLIER_TRACKED = ["s_name", "s_nationkey", "s_acctbal"]


@dataclass
class EtlAudit:
    """The reference's ``load_logs`` row (01_data_generation.py:53-57)."""

    run_date: str
    started_at: float = field(default_factory=time.time)
    finished_at: float | None = None
    status: str = "running"
    error_message: str | None = None
    records: dict[str, int] = field(default_factory=dict)

    def as_row(self) -> dict:
        return {
            "process_name": "daily_etl",
            "run_date": self.run_date,
            "records_inserted": sum(self.records.values()),
            "detail": str(self.records),
            "start_time": self.started_at,
            "end_time": self.finished_at,
            "status": self.status,
            "error_message": self.error_message,
        }


def _path(warehouse: str, name: str) -> str:
    return os.path.join(warehouse, name)


def _counted(df: DataFrame, **extra: Column) -> tuple[DataFrame, Observation]:
    """``df`` observed: the action that consumes it also computes its row
    count ``n`` and every ``extra`` aggregate, read from the returned
    observation's ``get`` once that action has returned.  Read it only then:
    ``get`` blocks until an action over ``df`` has run, forever if none
    does."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("n"), *(c.alias(k) for k, c in extra.items())]
    return df.observe(obs, *metrics), obs


def extract_orders_for_date(spark: SparkSession, sf_dir: str, run_date: str) -> DataFrame:
    """Incremental extract (ref extract_deliveries, etl_pipeline.py:230-277):
    one day's orders — the date predicate prunes partitions/rowgroups at the
    scan, the Spark twin of the reference pushing its WHERE into Postgres."""
    return load_table(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") == F.lit(run_date).cast("date")
    )


def build_fact_orders(
    orders: DataFrame, lineitem: DataFrame, dim_customer: DataFrame
) -> DataFrame:
    """Fact build (ref etl_pipeline.py:817-944): degenerate keys, as-of
    surrogate lookup into the SCD2 customer dimension, derived measures,
    QA flags.

    The as-of lookup lets Catalyst/AQE pick the join strategy from the
    dimension's statistics: this function serves initial loads and
    backfills whose extract touches MOST dim keys as well as thin daily
    slices, and a forced broadcast (of the dim, or of the extract's keys
    as a prefilter) inverts into a scale wall on one of the two shapes."""
    enriched = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus", "o_totalprice")
        .agg(
            F.count("*").alias("n_items"),
            sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "net_revenue"
            ),
            sum_exact("l_quantity").alias("total_qty"),
        )
    )
    dim = dim_customer.select(
        F.col("c_custkey").alias("o_custkey"),
        "c_mktsegment",
        "valid_from",
        "valid_to",
        "is_current",
    )
    fact = scd2_asof_lookup(
        dim,
        enriched,
        keys=["o_custkey"],
        fact_ts="o_orderdate",
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        date_key("o_orderdate").alias("date_key"),
        "o_orderstatus",
        "c_mktsegment",
        "o_totalprice",
        "n_items",
        "net_revenue",
        "total_qty",
        F.col("valid_from").alias("customer_version_from"),
    )
    # QA: negative measures corrected + flagged; outliers marked (ref
    # etl_pipeline.py:313-322,851-873)
    fact = qa_flags(fact, ["o_totalprice", "net_revenue", "total_qty"])
    return flag_outliers(fact, "o_totalprice")


def refresh_report_segment_totals(day_fact: DataFrame, out_path: str) -> int:
    """Pre-aggregated report refresh (ref REPORT_DRIVER_TOTALS,
    etl_pipeline.py:1100-1116) — incremental view maintenance over
    ``day_fact``, the run date's slice of the fact (``ingest_date`` = the
    run date, as the daily ETL's DQ gate reads it):

    1. aggregate ONLY that slice to a day-grain partition
       (``<out>_daily/``, dynamic partition overwrite → re-runs replace the
       day, never double-count);
    2. roll the day-grain aggregates up into the totals table — counts and
       decimal sums re-aggregate losslessly, so the totals never rescan the
       fact.

    Returns the totals table's row count, observed on its write.  At
    100 TB the daily refresh cost is O(one day) + O(|report days|), versus
    the reference's full-table rebuild."""
    return _refresh_report(day_fact, out_path, "c_mktsegment")


def refresh_report_status_totals(day_fact: DataFrame, out_path: str) -> int:
    """The SECOND pre-aggregated report table (ref REPORT_ROUTE_TOTALS,
    etl_pipeline.py:1117-1132 — the reference maintains a PAIR of report
    tables per run): totals keyed by order status, same incremental
    day-grain + rollup layout over the same ``day_fact`` slice as the
    segment report; returns the observed row count likewise."""
    return _refresh_report(day_fact, out_path, "o_orderstatus")


def _refresh_report(day_fact: DataFrame, out_path: str, group_col: str) -> int:
    daily_path = out_path.rstrip("/") + "_daily"
    day_agg = day_fact.groupBy(group_col, "ingest_date").agg(
        F.count("*").alias("n_orders"),
        sum_exact("net_revenue").alias("sum_revenue"),
        F.sum(F.when(~F.col("qa_passed"), 1).otherwise(0)).alias("n_qa_failed"),
    )
    (
        day_agg.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_date")
        .parquet(daily_path)
    )
    daily = day_fact.sparkSession.read.schema(day_agg.schema).parquet(daily_path)
    report, obs = _counted(
        daily.groupBy(group_col).agg(
            F.sum("n_orders").alias("n_orders"),
            F.round(F.sum("sum_revenue"), 2).alias("total_revenue"),
            F.round(F.sum("sum_revenue") / F.sum("n_orders"), 2).alias("avg_revenue"),
            F.sum("n_qa_failed").alias("n_qa_failed"),
        )
    )
    report.write.mode("overwrite").parquet(out_path)
    return obs.get["n"]


def run_daily_etl(
    spark: SparkSession, sf_dir: str, warehouse: str, run_date: str
) -> EtlAudit:
    """One incremental run (the reference's ``ETL.run_etl``,
    etl_pipeline.py:1176-1279).  Lands, under ``warehouse/``:

    - ``staging/``       raw JSON of the day's extract (audit trail, S5)
    - ``dim_date/``      calendar rows covering the day (anti-join insert, J7)
    - ``dim_customer/``  SCD2 dimension after today's merge (J8/J9)
    - ``dim_supplier/``  second SCD2 dimension (ref dual SCD2, 04:53-85)
    - ``fact_orders/``   date-partitioned fact (S7), QA-flagged
    - ``report_segment_totals/`` + ``report_status_totals/``  the pair of
      rebuilt aggregate tables (ref dual reports, etl_pipeline.py:1100-1132)
    - ``load_logs/``     one audit row per run

    Each table's write is its only action; ``audit.records`` holds the
    staged rows, the whole ``dim_date`` and both whole dimensions, the
    day's fact rows, the failed DQ expectations and both report tables'
    rows, all observed on those writes."""
    audit = EtlAudit(run_date=run_date)
    day = F.lit(run_date).cast("date")
    try:
        # -- extract (pushdown) + raw staging ---------------------------------
        day_orders = extract_orders_for_date(spark, sf_dir, run_date)
        staged, obs = _counted(day_orders)
        write_json_staging(staged, _path(warehouse, "staging"), batch_id=run_date)
        audit.records["staging"] = obs.get["n"]

        # -- dim_date: incremental anti-join insert (J7) -----------------------
        dim_date_path = _path(warehouse, "dim_date")
        new_dates = generate_dim_date(spark, run_date, run_date)
        dim_date_reader = spark.read.schema(new_dates.schema)
        if os.path.exists(dim_date_path):
            existing = dim_date_reader.parquet(dim_date_path)
            new_dates = new_dates.join(
                existing.select("date_key"), "date_key", "left_anti"
            )
            new_dates.write.mode("append").parquet(dim_date_path)
        else:
            new_dates.write.mode("overwrite").parquet(dim_date_path)
        # whole-table count, read back: an observation on the anti-join's
        # existing-keys scan goes unfulfilled when that table is empty (AQE
        # drops the scan from the final plan)
        audit.records["dim_date"] = dim_date_reader.parquet(dim_date_path).count()

        # -- SCD2 dimension merges (J8/J9) — BOTH tracked dims, mirroring the
        # reference's dual SCD2 on dim_vehicle + dim_driver (04:53-85) -------
        def scd2_refresh(
            dim_path: str, staging: DataFrame, keys: list[str], tracked: list[str]
        ) -> tuple[int, T.StructType]:
            """Merge ``staging`` into the dimension at ``dim_path``; returns
            the whole dimension's row count and its schema."""
            template = (
                staging.limit(0)
                .withColumn("valid_from", F.lit(None).cast("date"))
                .withColumn("valid_to", F.lit(None).cast("date"))
                .withColumn("is_current", F.lit(True))
            )
            if os.path.exists(dim_path):
                current = spark.read.schema(template.schema).parquet(dim_path)
            else:
                current = template
            merged, obs = _counted(
                scd2_apply(current, staging, keys=keys, tracked=tracked, effective_date=run_date)
            )
            # functional rewrite: land the snapshot NEXT TO the live dim, then
            # swap by rename — a crash anywhere leaves a complete dimension
            atomic_overwrite(merged, dim_path)
            return obs.get["n"], template.schema

        dim_cust_path = _path(warehouse, "dim_customer")
        staging_cust = (
            day_orders.select(F.col("o_custkey").alias("c_custkey"))
            .distinct()
            .join(load_table(spark, sf_dir, "customer"), "c_custkey")
            .select(*DIM_CUSTOMER_KEYS, *DIM_CUSTOMER_TRACKED)
        )
        audit.records["dim_customer"], dim_cust_schema = scd2_refresh(
            dim_cust_path, staging_cust, DIM_CUSTOMER_KEYS, DIM_CUSTOMER_TRACKED
        )
        dim_customer = spark.read.schema(dim_cust_schema).parquet(dim_cust_path)

        lineitem = load_table(spark, sf_dir, "lineitem")
        staging_supp = (
            day_orders.select("o_orderkey")
            .join(lineitem, day_orders.o_orderkey == lineitem.l_orderkey)
            .select(F.col("l_suppkey").alias("s_suppkey"))
            .distinct()
            .join(load_table(spark, sf_dir, "supplier"), "s_suppkey")
            .select(*DIM_SUPPLIER_KEYS, *DIM_SUPPLIER_TRACKED)
        )
        audit.records["dim_supplier"], _ = scd2_refresh(
            _path(warehouse, "dim_supplier"),
            staging_supp,
            DIM_SUPPLIER_KEYS,
            DIM_SUPPLIER_TRACKED,
        )

        # -- fact build + partitioned load (S7) --------------------------------
        # every fact row's ingest_date is the run date: the extract holds
        # only that day, so the write's count is the day's slice
        fact, obs = _counted(build_fact_orders(day_orders, lineitem, dim_customer))
        fact_path = _path(warehouse, "fact_orders")
        write_partitioned_lake(fact, fact_path, date_col="o_orderdate")
        audit.records["fact_orders"] = obs.get["n"]
        fact_schema = T.StructType(
            [*fact.schema.fields, T.StructField("ingest_date", T.DateType())]
        )
        day_fact = (
            spark.read.schema(fact_schema).parquet(fact_path).filter(F.col("ingest_date") == day)
        )

        # -- data-quality gate over the day's slice ----------------------------
        from .operators.expectations import (
            expect_not_null,
            expect_positive,
            run_expectations,
        )

        dq, obs = _counted(
            run_expectations(
                day_fact,
                [
                    expect_positive("n_items"),
                    expect_not_null("c_mktsegment"),
                    expect_not_null("date_key"),
                ],
                unique_cols=["o_orderkey"],
            ).withColumn("run_date", day),
            failed=F.sum(F.when(~F.col("passed"), 1).otherwise(0)),
        )
        (
            dq.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_date")
            .parquet(_path(warehouse, "dq_reports"))
        )
        audit.records["dq_failed"] = obs.get["failed"]

        # -- report refresh: BOTH pre-aggregated tables (ref loads driver AND
        # route totals every run, etl_pipeline.py:1100-1132) -------------------
        audit.records["report_segment_totals"] = refresh_report_segment_totals(
            day_fact, _path(warehouse, "report_segment_totals")
        )
        audit.records["report_status_totals"] = refresh_report_status_totals(
            day_fact, _path(warehouse, "report_status_totals")
        )
        audit.status = "success"
    except Exception as e:  # audit trail first, then re-raise (ref :64-72)
        audit.status = "error"
        audit.error_message = str(e)[:500]
        raise
    finally:
        audit.finished_at = time.time()
        log_df = spark.createDataFrame(
            [audit.as_row()],
            schema=(
                "process_name string, run_date string, records_inserted long, "
                "detail string, start_time double, end_time double, "
                "status string, error_message string"
            ),
        )
        log_df.write.mode("append").json(_path(warehouse, "load_logs"))
    return audit


# ---------------------------------------------------------------------------
# Training-data export pipeline (the X6 curation kit composed end to end —
# the LLM-data twin of run_daily_etl's warehouse flow)
# ---------------------------------------------------------------------------


def run_curation_export(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = 16,
    pack_budget: int = 512,
) -> dict:
    """Curate → shard → pack → manifest: the full path from a raw document
    corpus to training-ready artifacts, composed from the kit operators
    (each individually oracle-checked; this function is the operable
    composition, like ``run_daily_etl`` for the warehouse side).

    Writes under ``out_dir``:
    - ``shards/split=train/shard=N/`` — deterministic md5-sharded parquet
      of the curated TRAIN docs with text payload (one file per shard:
      the resume/shuffle granularity a training loader expects);
    - ``packing/`` — the FFD context-window assignment (doc_id → bucket,
      bin) for the train split at ``pack_budget`` tokens;
    - ``manifest/`` — one row per (split, lang) with doc/token counts:
      the reproducibility record (the md5-keyed split/shard decisions mean
      a re-run over the same corpus rewrites byte-stable content).

    Scale: curation is the documented pipeline plan; the export adds one
    repartition keyed on shard (the write layout) and the Arrow packing
    pass — nothing new shuffles the corpus more than once."""
    from .operators.curation import pack_sequences, shard_assign
    from .queries.curation_ops import curation_pipeline_end2end

    curated = materialize(curation_pipeline_end2end(spark, sf_dir))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    train = curated.filter(F.col("split") == "train")
    payload = train.join(docs, "doc_id")
    (
        shard_assign(payload, "doc_id", n_shards)
        .withColumn("split", F.lit("train"))
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(os.path.join(out_dir, "shards"))
    )
    packing = pack_sequences(
        train.withColumnRenamed("n_tok", "n_tokens"), budget=pack_budget
    )
    packing.write.mode("overwrite").parquet(os.path.join(out_dir, "packing"))
    manifest = curated.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    manifest.write.mode("overwrite").parquet(os.path.join(out_dir, "manifest"))
    rows = manifest.collect()  # small: |splits| x |langs|
    return {
        "out_dir": out_dir,
        "n_shards": n_shards,
        "pack_budget": pack_budget,
        "splits": sorted({r["split"] for r in rows}),
        "n_docs": sum(r["n_docs"] for r in rows),
        "n_tokens": sum(r["n_tokens"] for r in rows),
    }


def _write_model(out_dir: str, version: int, model: dict) -> str:
    """Write the ANN model of index ``version`` atomically (tmp + fsync +
    rename) and return its path.  The model is PART of the index version —
    an unversioned model.json clobbered by rebuilds would dequantize a
    pinned elder version with the wrong bounds/centroids (silently wrong
    neighbors) — so every version gets its own file."""
    model_path = os.path.join(out_dir, "ann_index", f"model_v{version}.json")
    tmp_path = model_path + ".tmp"
    with open(tmp_path, "w") as f:
        json.dump(model, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_path, model_path)
    return model_path


def run_index_build(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_clusters: int = 8,
    nprobe: int = 2,
    k: int = 3,
) -> dict:
    """Train → build → persist → serve → evaluate for the ANN index: the
    operable composition of the X3 kit (each piece individually measured/
    tested; this is the deployment flow, like ``run_curation_export`` for
    the text side and ``run_daily_etl`` for the warehouse).

    1. TRAIN the coarse quantizer (deterministic Lloyd k-means) and the
       SQ8 bounds from the corpus — bounded model metadata.
    2. BUILD the scored index (bucket + int8 codes + reconstruction norm;
       floats excluded) in one corpus pass.
    3. PERSIST index and model to a versioned ``SnapshotTable`` — the
       index is data, so it gets the same time-travel/atomic-commit
       treatment as any table; a rebuild is a new version, serving reads a
       pinned one.
    4. SERVE a probe query set from the STORED index and
    5. EVALUATE recall@k against the exact brute-force ground truth,
       returning the figure with the manifest — an index build that does
       not report its recall is not done.
    """
    from .operators.similarity import (
        build_sq8_index,
        knn_bruteforce,
        knn_sq8_serve,
        recall_at_k,
        train_ivf_centroids,
        train_sq8_bounds,
    )
    from .sources.snapshots import SnapshotTable

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_ivf_centroids(emb, n_clusters=n_clusters, n_iter=3)
    lo, hi = train_sq8_bounds(emb)
    index, written = _counted(build_sq8_index(emb, lo, hi, centroids=centroids))

    table = SnapshotTable(os.path.join(out_dir, "ann_index"))
    version = table.write(index)
    model = {"centroids": centroids, "lo": lo, "hi": hi, "n_clusters": n_clusters}
    model_path = _write_model(out_dir, version, model)

    stored = table.read(spark, version)
    queries = emb.filter(F.col("vec_id") < 10)
    served = knn_sq8_serve(
        stored, queries, emb, k, lo, hi, centroids=centroids, nprobe=nprobe
    )
    exact = knn_bruteforce(queries, emb, k=k)
    recall = (
        recall_at_k(served, exact).agg(F.avg("recall").alias("r")).first()["r"]
    )
    return {
        "index_version": version,
        "index_rows": written.get["n"],
        "n_clusters": n_clusters,
        "nprobe": nprobe,
        "recall_at_k": recall,
        "model_path": model_path,
    }


"""Regression tests for the metrics reader the bench, the tools and the
probe records are built on (etl_cloud_logistics_spark/metrics.py) — a
biased meter poisons every artifact that quotes it, so the meter gets its
own pins."""

from __future__ import annotations

import ast
import glob
import os

from pyspark.sql import functions as F

from etl_cloud_logistics_spark.metrics import (
    ExecutionMeter,
    execution_metrics,
    parse_bytes,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_execution_metrics_dedups_aqe_plan_versions(spark):
    """r11: ``SQLExecutionUIData.metrics`` carries one SQLPlanMetric entry
    per ADAPTIVE PLAN VERSION (same accumulator ids re-registered on every
    runtime re-plan), so an occurrence-sum overcounts by the plan-update
    count — caught when the triangle probe's 4e6-edge tier read 3989 MB
    against 586 MB of physical shuffle.  Pins: (a) the duplication is
    actually present in the run (non-vacuous), (b) execution_metrics
    equals the independent unique-accumulator sum, (c) the metric is
    physically plausible — positive and under the occurrence-sum."""
    meter = ExecutionMeter(spark)
    a = spark.range(200_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
    )
    b = spark.range(100_000).select(
        (F.col("id") % 1000).alias("k"), (F.col("id") * 2).alias("w")
    )
    # two shuffles + a join => AQE re-plans at least once per stage wave
    (
        a.groupBy("k")
        .agg(F.sum("v").alias("sv"))
        .join(b.groupBy("k").agg(F.sum("w").alias("sw")), "k")
        .agg(F.sum(F.col("sv") + F.col("sw")))
        .collect()
    )
    ids = meter.read().ids
    assert ids
    store = meter.store

    occurrences = 0
    uniq: dict[int, float] = {}
    listed = store.executionsList()
    for i in range(listed.size()):
        e = listed.apply(i)
        if e.executionId() not in ids:
            continue
        vals = store.executionMetrics(e.executionId())
        it = e.metrics().iterator()
        while it.hasNext():
            m = it.next()
            if m.name() != "shuffle bytes written":
                continue
            v = vals.get(m.accumulatorId())
            if not v.isDefined():
                continue
            occurrences += 1
            uniq[m.accumulatorId()] = parse_bytes(v.get())
    # (a) AQE actually re-registered metrics — otherwise this test would
    # pass vacuously on a build where the duplication doesn't occur
    assert occurrences > len(uniq), (occurrences, len(uniq))
    expected = sum(uniq.values())
    assert expected > 0

    got = execution_metrics(store, ids).get("shuffle bytes written", 0.0)
    assert got == expected, (got, expected, occurrences, len(uniq))


def test_meter_reads_complete_executions_right_after_the_action(spark):
    """The status store is filled in two asynchronous stages: the listener
    bus, then the store's writer thread, which records each execution's
    ``completionTime`` and final metrics.  Draining only the bus left the
    last execution of a just-returned action incomplete in 5 of 15
    back-to-back reads.  Each of 15 back-to-back shuffling actions is read
    immediately; every new execution must be complete, and the reading
    must equal a second one taken after another drain."""
    df = spark.range(20_000).groupBy((F.col("id") % 97).alias("k")).count()
    for _ in range(15):
        meter = ExecutionMeter(spark)
        df.write.mode("overwrite").format("noop").save()
        reading = meter.read()
        assert reading.ids and reading.metrics.get("shuffle bytes written", 0) > 0
        for eid in reading.ids:
            assert meter.store.execution(eid).get().completionTime().isDefined()
        assert all(e.jobs > 0 and e.duration_ms >= 0 for e in reading.executions)
        assert meter.read() == reading


def test_status_store_is_read_only_through_the_metrics_module():
    """One reader: the bench, the tools and the engine package reach the
    SQL status store only through ``etl_cloud_logistics_spark.metrics``
    (``perfbench/`` keeps its own job/stage reader and is out of scope)."""
    pkg = os.path.join(ROOT, "etl_cloud_logistics_spark")
    paths = [os.path.join(ROOT, "bench.py"), *glob.glob(os.path.join(ROOT, "tools", "*.py"))]
    paths += [
        p
        for p in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
        if p != os.path.join(pkg, "metrics.py")
    ]
    offenders = []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("statusStore", "executionsList")
            ) or (
                isinstance(node, ast.FunctionDef)
                and node.name in ("_parse_bytes", "_execution_metrics")
            ):
                offenders.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert len(paths) > 50
    assert not offenders, offenders

"""Per-SQL-execution job/time attribution for any registry query, e.g.
``curation_pipeline_end2end``, the composed many-job pipeline row.

For each named query: one warm pass (plan compile + shuffle-file reuse out
of the picture), then a timed pass whose SQL executions are listed in
submission order with their job counts and durations — so a many-action
row's wall is attributed to individual materializations (statics, counts,
round checkpoints, probes, the final sink) instead of argued.

Usage: python tools/opt_attr.py <query-name> [<query-name> ...]
       (SPARK_GRAFT_SF_DIR to override the default sf0.1)
"""

from __future__ import annotations

import gc
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_cloud_logistics_spark.metrics import ExecutionMeter  # noqa: E402
from etl_cloud_logistics_spark.queries import REGISTRY, _load_all  # noqa: E402
from etl_cloud_logistics_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def attribute(spark, name: str) -> None:
    spec = REGISTRY[name]

    def run_once() -> float:
        t0 = time.perf_counter()
        spec.fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    run_once()  # warm
    spark.catalog.clearCache()
    gc.collect()
    meter = ExecutionMeter(spark)
    wall = run_once()
    rows = meter.read().executions
    print(
        f"{name} at {SF_DIR}: wall {wall:.2f}s, {len(rows)} SQL executions, "
        f"{sum(e.jobs for e in rows)} jobs (load1={os.getloadavg()[0]:.2f})"
    )
    print(f"{'exec':>5} {'jobs':>4} {'ms':>7}  description")
    t_first = rows[0].submitted_ms if rows else 0
    for e in rows:
        desc = e.description[:60].replace("\n", " ")
        print(
            f"{e.id:>5} {e.jobs:>4} {e.duration_ms:>7}  "
            f"[+{(e.submitted_ms - t_first) / 1000:6.2f}s] {desc}"
        )
    print()


def main() -> None:
    names = sys.argv[1:]
    if not names:
        print(__doc__)
        sys.exit(2)
    _load_all()
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}")
        sys.exit(2)
    spark = get_spark("opt-attr")
    for name in names:
        attribute(spark, name)


if __name__ == "__main__":
    main()

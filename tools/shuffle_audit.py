"""Execution-metrics audit: runs registry queries and reports, per query,
the ACTUAL shuffle volume, spill, parquet bytes read, and peak operator
memory from Spark's SQL metrics — the measured counterpart of the plan-shape
audit (`tools/explain_audit.py`).  "Measure, don't guess": a query whose
plan looks right but shuffles the whole input, or spills, shows up here as
a number, not an opinion.

Usage:  python tools/shuffle_audit.py [name-substring ...]
        SPARK_GRAFT_SF_DIR overrides the data dir (default sf0.1).

Prints one line per query and a totals line:
    shuffleMB  spillMB  readMB  peakMemMB  n_exec  name
A query can span several Spark SQL executions (iterative operators run one
per round); all executions it triggered are aggregated.  Spill > 0 on any
query is reported as a FAIL in the exit status — at bench scale every
operator must fit its partitions in execution memory.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# perfbench/meters.py imports the reader from here under its old name
from etl_cloud_logistics_spark.metrics import ExecutionMeter, execution_metrics as _execution_metrics  # noqa: E402,F401,E501
from etl_cloud_logistics_spark.queries import REGISTRY, _load_all  # noqa: E402
from etl_cloud_logistics_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def main() -> int:
    filters = sys.argv[1:]
    _load_all()
    suite = {
        n: s for n, s in REGISTRY.items()
        if not s.extra and (not filters or any(f in n for f in filters))
    }
    spark = get_spark("shuffle-audit")
    print(f"{'shuffleMB':>9} {'spillMB':>8} {'readMB':>8} {'peakMemMB':>9} "
          f"{'n_exec':>6}  query   ({SF_DIR})")
    spilled = []
    tot_shuffle = tot_read = 0.0
    for name, spec in suite.items():
        meter = ExecutionMeter(spark)
        spec.fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()  # queries own persist(); drop between runs
        reading = meter.read()
        m = reading.metrics
        shuffle = m.get("shuffle bytes written", 0.0) / 2**20
        spill = m.get("spill size", 0.0) / 2**20
        read = m.get("size of files read", 0.0) / 2**20
        peak = m.get("peak memory", 0.0) / 2**20
        tot_shuffle += shuffle
        tot_read += read
        if spill > 0:
            spilled.append(name)
        print(f"{shuffle:9.2f} {spill:8.2f} {read:8.2f} {peak:9.1f} "
              f"{len(reading.ids):6d}  {name}")
    print(f"\nTOTAL shuffle {tot_shuffle:.1f} MB, read {tot_read:.1f} MB "
          f"across {len(suite)} queries")
    if spilled:
        print(f"SPILL DETECTED in: {', '.join(spilled)}")
        return 1
    print("zero spill in every query")
    return 0


if __name__ == "__main__":
    sys.exit(main())

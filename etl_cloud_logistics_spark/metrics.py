"""The one reader of Spark's SQL status store, shared by the bench, the
audit tools and the scaling probes.

Usage::

    meter = ExecutionMeter(spark)   # snapshot: executions so far
    df.write.format("noop").mode("overwrite").save()
    reading = meter.read()          # what that action submitted
    reading.metrics["shuffle bytes written"], len(reading.ids)

Both the snapshot and every read first drain the status store's two
asynchronous stages: the listener bus (``waitUntilEmpty``), then the
store's writer thread, on which the SQL listener finishes each execution
(its ``completionTime`` and final metric values).  Draining the bus alone
left the last execution of a just-returned action incomplete in 5 of 15
back-to-back reads.  No engine module imports this one, so reading never
changes a query plan or a timed region.
"""

from __future__ import annotations

import re
from typing import NamedTuple

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_bytes(s: str) -> float:
    """First size token in a metric string — for multi-task metrics Spark
    formats 'total (min, med, max ...)', so the first token IS the total."""
    m = _SIZE.search(s)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


def execution_metrics(store, exec_ids) -> dict[str, float]:
    """Sum size-type metrics by name across the UNIQUE accumulators of the
    given executions (one accumulator per physical plan node).

    The per-accumulator dedup is load-bearing under AQE (r11):
    ``SQLExecutionUIData.metrics`` accumulates one SQLPlanMetric entry per
    ADAPTIVE PLAN VERSION — every runtime re-plan re-registers the whole
    plan's metrics with the same accumulator ids — so summing occurrences
    overcounts by the plan-update count.  Measured on the 13-stage
    triangle aggregation at 2.7M edges: 39 occurrences over 6 unique
    shuffle-write accumulators, 3989 "MB" summed vs 586 MB physical (the
    per-stage task totals agree with the unique sum).  The inflation
    factor is deterministic per plan shape, which is why round-over-round
    artifact comparisons stayed coherent; absolute *_MB columns in
    records drawn before the r11 fix carry that per-query factor."""
    out: dict[str, float] = {}
    listed = store.executionsList()
    for i in range(listed.size()):
        e = listed.apply(i)
        if e.executionId() not in exec_ids:
            continue
        values = store.executionMetrics(e.executionId())
        seen: set[int] = set()
        mets = e.metrics()
        it = mets.iterator()
        while it.hasNext():
            m = it.next()
            acc = m.accumulatorId()
            if acc in seen:
                continue
            seen.add(acc)
            v = values.get(acc)
            if not v.isDefined():
                continue
            name = m.name()
            val = parse_bytes(v.get())
            if name == "peak memory":
                out[name] = max(out.get(name, 0.0), val)
            else:
                out[name] = out.get(name, 0.0) + val
    return out


class Execution(NamedTuple):
    """One SQL execution; times are epoch milliseconds."""

    id: int
    submitted_ms: int
    jobs: int
    duration_ms: int
    description: str


class Reading(NamedTuple):
    ids: set[int]
    metrics: dict[str, float]  # execution_metrics over ``ids``
    executions: list[Execution]  # in submission order


class ExecutionMeter:
    """Measures the SQL executions submitted after it was made."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        # ElementTrackingStore's private single-thread writer: a no-op task
        # submitted behind the queued writes returns once they are done
        tracking = sc._jsc.sc().statusStore().store()
        field = tracking.getClass().getDeclaredField("executor")
        field.setAccessible(True)
        self._writer = field.get(tracking)
        self._noop = sc._jvm.java.lang.Thread()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._before = {e.executionId() for e in self._executions()}

    def _executions(self) -> list:
        self._bus.waitUntilEmpty()
        self._writer.submit(self._noop).get()
        listed = self.store.executionsList()
        return [listed.apply(i) for i in range(listed.size())]

    def read(self) -> Reading:
        new = [e for e in self._executions() if e.executionId() not in self._before]
        records = sorted(
            (
                Execution(
                    e.executionId(),
                    e.submissionTime(),
                    e.jobs().size(),
                    # defined once drained; a gap fails loudly here
                    e.completionTime().get().getTime() - e.submissionTime(),
                    str(e.description() or ""),
                )
                for e in new
            ),
            key=lambda r: (r.submitted_ms, r.id),
        )
        ids = {r.id for r in records}
        return Reading(ids, execution_metrics(self.store, ids), records)

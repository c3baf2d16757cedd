"""Per-layer metrics of a traced run.

Each request gets spans from the benchmark's own calls (the request,
``queries.build``, the action or ``pipelines.*`` call, ``driver.collect``)
plus Spark job and stage spans from the status store, attributed by the
job group the request's thread set.  Layer self times come from
``spans.Trace.self_times``; whatever no layer covers is the request's own
self time; together with an action's time between jobs it is reported as
the residual.
"""

from __future__ import annotations

import json
import os

import meters
import spans
import workloads

# (metric, unit); every traced run reports all of them (0 where a workload
# never enters the layer)
PER_LAYER: list[tuple[str, str]] = (
    [("queries.build_s", "s")]
    + [(f"queries.{k[:3]}_s", "s") for k in workloads.CORE12]
    + [(f"pipelines.{k}_s", "s") for k in ("run_daily_etl", "run_curation_export", "run_index_build")]
    + [
        ("spark.plan_s", "s"),
        ("spark.executions", "count"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.stage_wait_s", "s"),
        ("spark.task_run_s", "s"),
        ("spark.task_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.slot_busy_frac", "fraction"),
        ("spark.scan_mb", "MB"),
        ("spark.shuffle_write_mb", "MB"),
        ("spark.shuffle_read_mb", "MB"),
        ("spark.spill_mb", "MB"),
        ("python.to_worker_mb", "MB"),
        ("spark.job_busy_s", "s"),
        ("driver.gap_s", "s"),
        ("driver.collect_s", "s"),
        ("sources.files_written", "count"),
        ("sources.mb_written", "MB"),
        ("sources.stored_mb", "MB"),
        ("self.queries.build_s", "s"),
        ("self.pipelines_s", "s"),
        ("self.spark.job_s", "s"),
        ("self.spark.stage_s", "s"),
        ("self.driver.collect_s", "s"),
        ("trace.residual_s", "s"),
        ("trace.residual_frac", "fraction"),
        # VmHWM of this process plus its Spark JVM; per-layer because it
        # does not repeat within a tenth across runs
        ("process.peak_rss_mb", "MB"),
    ]
)
# layers whose self time is reported; ``spark.plan`` never has children (its
# self time is ``spark.plan_s``) and the action's self time is part of the
# residual
LAYERS = ["queries.build", "pipelines", "spark.job", "spark.stage", "driver.collect"]


def _kind_metric(kind: str) -> str:
    if kind in workloads.CORE12:
        return f"queries.{kind[:3]}_s"
    return f"pipelines.{kind}_s"


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


# job times are whole milliseconds; a job this close before a call's start
# was submitted by that call
TICK = 1e-3


def _first_submit(jobs: list[dict], after: float) -> float | None:
    """Epoch seconds of the first job submitted at or after ``after``."""
    subs = [j["submissionTime"] / 1e3 for j in jobs if j["submissionTime"] / 1e3 >= after - TICK]
    return max(after, min(subs)) if subs else None


def request_spans(trace: spans.Trace, req: dict) -> int:
    """Add one request's spans to ``trace``; returns the root's index.

    A job hangs under the call that submitted it: ``queries.build`` for
    rows whose build runs eager rounds, else the action or pipeline call."""
    root = trace.add("request", req["t0"], req["t1"], id=req["id"], kind=req["kind"])
    if "built" in req:
        build = trace.add("queries.build", req["t0"], req["built"], root)
        action = trace.add("action", req["built"], req["t1"], root)
    else:
        build = None
        action = trace.add("pipelines", req["t0"], req["t1"], root, call=req["kind"])
    action_start = trace.spans[action].start
    first = _first_submit(req["jobs"], action_start)
    if first is not None:
        trace.add("spark.plan", action_start, min(first, req["t1"]), action)
    owner: dict[int, int] = {}
    for job in sorted(req["jobs"], key=lambda j: j["jobId"]):
        start = job["submissionTime"] / 1e3
        end = (job.get("completionTime") or req["t1"] * 1e3) / 1e3
        parent = build if build is not None and start < action_start - TICK else action
        j = trace.add("spark.job", start, end, parent, job=job["jobId"])
        for sid in job["stageIds"]:
            owner.setdefault(sid, j)
    for st in req["stages"]:
        if st.get("submissionTime") and st.get("completionTime"):
            trace.add(
                "spark.stage", st["submissionTime"] / 1e3, st["completionTime"] / 1e3,
                owner[st["stageId"]], stage=st["stageId"],
            )
    if "built" in req and first is not None:
        last = max(j.get("completionTime") or 0 for j in req["jobs"]) / 1e3
        trace.add("driver.collect", min(last, req["t1"]), req["t1"], action)
    return root


def per_layer(
    w, reader: meters.StatusReader, wall: float, cores: int, rss_mb: float
) -> tuple[dict, spans.Trace]:
    reqs = w.requests
    trace = spans.Trace()
    execs = reader.executions_by_description()
    out = {name: 0.0 for name, _ in PER_LAYER}
    per_req: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_req.setdefault(name, []).append(value)

    by_kind: dict[str, list[float]] = {}
    for req in reqs:
        wall_r = req["t1"] - req["t0"]
        by_kind.setdefault(req["kind"], []).append(wall_r)
        jobs, stages = req["jobs"], req["stages"]
        job_iv = [
            spans.clip((j["submissionTime"] / 1e3, (j.get("completionTime") or req["t1"] * 1e3) / 1e3),
                       (req["t0"], req["t1"]))
            for j in jobs
        ]
        busy = spans.covered(job_iv)
        action_start = req.get("built", req["t0"])
        first = _first_submit(jobs, action_start)
        add("spark.plan_s", first - action_start if first is not None else 0.0)
        add("spark.executions", len(execs.get(req["id"], [])))
        add("spark.jobs", len(jobs))
        add("spark.stages", len(stages))
        for key, value in meters.stage_sums(stages).items():
            add(f"spark.{key}", value)
        add("spark.stage_wait_s", meters.stage_wait_s(stages))
        add("spark.job_busy_s", busy)
        add("driver.gap_s", wall_r - busy)
        add("sources.files_written", req.get("files_written", 0))
        add("sources.mb_written", req.get("bytes_written", 0) / meters.MB)
        if "built" in req:
            add("queries.build_s", req["built"] - req["t0"])
            last = max((j.get("completionTime") or 0) / 1e3 for j in jobs) if jobs else action_start
            add("driver.collect_s", req["t1"] - min(last, req["t1"]))
        root = request_spans(trace, req)
        self_t = trace.self_times(root)
        for layer in LAYERS:
            add(f"self.{layer}_s", self_t.get(layer, 0.0))
        # what no named layer explains: the request's own glue and, inside a
        # registry action, driver time between its jobs
        add("trace.residual_s", self_t["request"] + self_t.get("action", 0.0))

    for name, values in per_req.items():
        if name in out:
            out[name] = _mean(values)
    for kind, lats in by_kind.items():
        out[_kind_metric(kind)] = spans.median(lats)
    # registry-only means are over registry requests, not all requests
    n_reg = sum(1 for r in reqs if "built" in r)
    for name in ("queries.build_s", "driver.collect_s"):
        out[name] = _mean(per_req.get(name, [])) if n_reg else 0.0
    out["spark.slot_busy_frac"] = sum(per_req.get("spark.task_run_s", [])) / (wall * cores)
    out["trace.residual_frac"] = sum(per_req["trace.residual_s"]) / sum(r["t1"] - r["t0"] for r in reqs)
    out["sources.stored_mb"] = workloads.dir_size(w.out_dir)[1] / meters.MB
    out["process.peak_rss_mb"] = rss_mb

    # SQL metrics of the first request of each kind (deterministic per kind),
    # weighted by how often each kind ran
    firsts: dict[str, dict] = {}
    for req in reqs:
        firsts.setdefault(req["kind"], req)
    for kind, req in firsts.items():
        share = len(by_kind[kind]) / len(reqs)
        sizes = reader.sql_sizes_mb(execs.get(req["id"], []))
        out["spark.scan_mb"] += sizes["scan_mb"] * share
        out["python.to_worker_mb"] += sizes["to_worker_mb"] * share

    units = dict(PER_LAYER)
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}, trace


def write_trace(trace: spans.Trace, workload: str, seed: int) -> str:
    """Write the run's spans to ``.perfbench-traces/`` under the working
    directory; returns the path."""
    os.makedirs(".perfbench-traces", exist_ok=True)
    path = os.path.join(".perfbench-traces", f"{workload}-seed{seed}.json")
    with open(path, "w") as fh:
        json.dump([s.__dict__ for s in trace.spans], fh)
    return path

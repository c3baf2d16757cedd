"""Outside-in benchmark of the engine: one workload per run.

    python3 perfbench/run.py --workload core12_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  A run generates its input tables from
``--seed`` (``datagen.py``), starts the session through
``session.get_spark()`` with ``SPARK_GRAFT_CPUS = nproc``, warms the
workload up, computes its DuckDB oracles, measures whole passes for
``--seconds``, checks every response, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(job groups set per request, status-store records read per request, spans
written to ``.perfbench-traces/``).  The line before it describes the run.

Everything the run writes (inputs, outputs, Spark local dirs, temp files)
lives in a fresh ``.perfbench-run-*`` directory under the working
directory, removed when the run ends.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import spans  # noqa: E402

SF = 0.1
NPROC = len(os.sched_getaffinity(0))


def load1() -> float:
    return os.getloadavg()[0]


def descendants(pid: int) -> list[int]:
    """Process ids below ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in below:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def end_to_end(w, setup_s: float, wall: float) -> dict:
    lat = [r["t1"] - r["t0"] for r in w.requests]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "throughput_rps": {"value": len(w.requests) / wall, "unit": "1/s"},
        "latency_p50_s": {"value": spans.median(lat), "unit": "s"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help="input scale (0.1 = 600k lineitems)")
    args = ap.parse_args()

    # import the engine before anything is written, so a tree without it
    # fails here with nothing to clean up
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    root = tempfile.mkdtemp(prefix=".perfbench-run-", dir=os.getcwd())
    try:
        return run(args, root, workloads)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run(args, root: str, workloads) -> int:
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": args.sf,
        "nproc": NPROC,
        "SPARK_GRAFT_CPUS": NPROC,
        "load1_start": load1(),
    }

    harness = time.time()
    data_dir = datagen.write_tables(os.path.join(root, "data"), args.seed, args.sf)
    harness = time.time() - harness

    import pyspark

    from etl_cloud_logistics_spark.session import get_spark

    import checks
    import meters

    info["pyspark"] = pyspark.__version__
    spark = get_spark()
    try:
        reader = meters.StatusReader(spark) if args.trace else None
        w = workloads.WORKLOADS[args.workload](
            spark, data_dir, os.path.join(root, "out"), args.seed, reader
        )
        w.warm_up()
        oracle = time.time()
        con = checks.duck_connect(data_dir)
        w.oracle(con)
        con.close()
        harness += time.time() - oracle

        start = time.time()
        setup_s = start - PROCESS_START - harness
        w.run(args.seconds)
        wall = time.time() - start - w.paused
        w.check()

        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss_mb = meters.peak_rss_mb([os.getpid(), jvm_pid])
        failed = sum(1 for r in w.requests if r["problems"])
        lat = [r["t1"] - r["t0"] for r in w.requests]
        by_kind: dict[str, list[float]] = {}
        for r in sorted(w.requests, key=lambda r: r["kind"]):
            by_kind.setdefault(r["kind"], []).append(r["t1"] - r["t0"])
        info.update(
            requests=len(w.requests),
            requests_by_kind={k: len(v) for k, v in by_kind.items()},
            latency_p50_by_kind_s={k: spans.median(v) for k, v in by_kind.items()},
            timed_wall_s=wall,
            harness_s=harness,
            latency_p90_s=spans.tail_percentile(lat, 90),
            latency_samples=len(lat),
            stored_mb=workloads.dir_size(w.out_dir)[1] / meters.MB,
            problems=[f"{r['id']} {r['kind']}: {p}" for r in w.requests for p in r["problems"]][:20],
        )
        if args.trace:
            import layers

            metrics, trace = layers.per_layer(w, reader, wall, NPROC, rss_mb)
            info["trace_spans"] = layers.write_trace(trace, args.workload, args.seed)
        else:
            info["peak_rss_mb"] = rss_mb
            metrics = end_to_end(w, setup_s, wall)
    finally:
        stop_spark(spark)
    info["load1_end"] = load1()
    print(json.dumps({"run": info}, default=str))
    result = {
        "correct": failed == 0,
        "attempted": len(w.requests),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's three workloads, driven through the engine's public
entry points only: ``session.get_spark()``, the ``queries`` registry and
the ``pipelines`` functions.

- ``core12_mix``: a closed loop of ``nproc`` clients, each issuing the 12
  core registry rows in its own seeded order (whole passes), building the
  DataFrame and collecting it.
- ``daily_etl``: one client running ``run_daily_etl`` for consecutive days
  into a warehouse created in set-up.
- ``iterative_batch``: one client running seeded permutations of the
  curation export and the ANN index build (whole cycles).

Each request is recorded as a dict; spans and status-store records are
added when tracing.  Clients start a new pass or cycle only while the
deadline has not passed, so a run always measures whole passes.
"""

from __future__ import annotations

import datetime
import itertools
import os
import random
import shutil
import threading
import time

from etl_cloud_logistics_spark import pipelines
from etl_cloud_logistics_spark.queries import REGISTRY, _load_all

import checks
import datagen

_load_all()

CORE12 = sorted(n for n in REGISTRY if n[0] == "q" and n[1:3].isdigit() and n[3] == "_")
ETL_FIRST_DAY = datetime.date(1995, 1, 1)
ETL_LAST_DAY = datetime.date(2001, 8, 1)
ETL_MAX_DAYS = 64  # the oracle's days; a run stops after the last of them
WARM_SF = 0.001  # input scale of the iterative batch's warm-up cycle


def dir_size(path: str) -> tuple[int, int]:
    """``(files, bytes)`` under ``path`` (0, 0 when absent)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def concurrently(target, n: int) -> None:
    """Run ``target(0..n-1)`` on ``n`` threads and wait for all of them."""
    threads = [threading.Thread(target=target, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


class Workload:
    """Common request plumbing; subclasses define set-up, oracle and loop."""

    name = ""

    def __init__(self, spark, data_dir: str, out_dir: str, seed: int, reader):
        self.spark = spark
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.seed = seed
        self.reader = reader  # meters.StatusReader when tracing, else None
        self.requests: list[dict] = []
        self.paused = 0.0  # harness seconds inside the timed phase
        self._ids = itertools.count()
        self._outs = itertools.count()
        self._lock = threading.Lock()

    # -- request plumbing ------------------------------------------------
    def _begin(self, kind: str) -> dict:
        rid = f"{self.name}-{next(self._ids)}"
        if self.reader:
            self.spark.sparkContext.setJobGroup(rid, rid)
        return {"id": rid, "kind": kind, "problems": []}

    def _end(self, req: dict) -> None:
        if self.reader:
            req["jobs"], req["stages"] = self.reader.group_records(req["id"])
        with self._lock:
            self.requests.append(req)

    def pipeline_request(self, kind: str, call, out: str) -> dict:
        """Run one ``pipelines.*`` call; ``out`` is the directory it writes."""
        req = self._begin(kind)
        before = dir_size(out)
        req["t0"] = time.time()
        try:
            req["result"] = call()
        except Exception as e:
            req["problems"].append(f"raised {type(e).__name__}: {str(e)[:300]}")
        req["t1"] = time.time()
        pause = time.time()
        after = dir_size(out)
        req["files_written"] = after[0] - before[0]
        req["bytes_written"] = after[1] - before[1]
        self._end(req)
        self.paused += time.time() - pause
        return req

    # -- phases ----------------------------------------------------------
    def warm_up(self) -> None:
        raise NotImplementedError

    def oracle(self, con) -> None:
        raise NotImplementedError

    def run(self, seconds: float) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Fill ``problems`` of every request not yet checked inline."""


class Core12Mix(Workload):
    name = "core12_mix"

    clients = 4

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.oracles: dict = {}
        self.schemas: dict = {}  # registry row -> result schema, from its first run

    def registry_request(self, kind: str) -> dict:
        """Build a registry row's DataFrame and collect it."""
        req = self._begin(kind)
        req["t0"] = time.time()
        try:
            df = REGISTRY[kind].fn(self.spark, self.data_dir)
            req["built"] = time.time()
            rows = df.collect()
            req["t1"] = time.time()
            req["digest"] = checks.digest(rows)
            req["rows"] = rows
            if kind not in self.schemas:
                self.schemas[kind] = df.schema
        except Exception as e:  # counted in failed, never dropped
            req["t1"] = time.time()
            req["problems"].append(f"raised {type(e).__name__}: {str(e)[:300]}")
        self._end(req)
        return req

    def warm_up(self) -> None:
        # every row once, spread over the clients (cold plans and codegen)
        shares = [CORE12[c :: self.clients] for c in range(self.clients)]

        def client(c: int) -> None:
            for kind in shares[c]:
                self.registry_request(kind)

        concurrently(client, self.clients)
        self.requests.clear()

    def oracle(self, con) -> None:
        self.oracles = {k: checks.RegistryOracle(con, REGISTRY[k].oracle) for k in CORE12}

    def run(self, seconds: float) -> None:
        deadline = time.time() + seconds

        def client(c: int) -> None:
            order = list(CORE12)
            random.Random(self.seed * 1000 + c).shuffle(order)
            while time.time() < deadline:
                for kind in order:
                    self.registry_request(kind)

        concurrently(client, self.clients)

    def check(self) -> None:
        verdicts: dict[tuple[str, str], list[str]] = {}
        for req in self.requests:
            if "digest" not in req:
                continue
            key = (req["kind"], req["digest"])
            if key not in verdicts:
                verdicts[key] = self.oracles[req["kind"]].problems(
                    req["kind"], req["rows"], self.schemas[req["kind"]]
                )
            req["problems"].extend(verdicts[key])
            del req["rows"]


class DailyEtl(Workload):
    name = "daily_etl"

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        span = (ETL_LAST_DAY - ETL_FIRST_DAY).days - ETL_MAX_DAYS
        self.first_day = ETL_FIRST_DAY + datetime.timedelta(
            days=random.Random(self.seed).randrange(span)
        )
        self.warehouse = os.path.join(self.out_dir, "warehouse")
        self.expect: list[dict] = []

    def _day(self, i: int) -> str:
        return (self.first_day + datetime.timedelta(days=i)).isoformat()

    def oracle(self, con) -> None:
        self.expect = checks.etl_day_oracle(con, self._day(0), ETL_MAX_DAYS)

    def warm_up(self) -> None:
        # the warehouse's initial load: day 0 creates every table
        pipelines.run_daily_etl(self.spark, self.data_dir, self.warehouse, self._day(0))

    def run(self, seconds: float) -> None:
        deadline = time.time() + seconds
        day = 1
        while day < ETL_MAX_DAYS and time.time() < deadline:
            d = self._day(day)
            req = self.pipeline_request(
                "run_daily_etl",
                lambda d=d: pipelines.run_daily_etl(self.spark, self.data_dir, self.warehouse, d),
                self.warehouse,
            )
            pause = time.time()
            if "result" in req:
                req["problems"] += checks.etl_problems(req["result"], self.expect[day], self.warehouse)
            self.paused += time.time() - pause
            day += 1


class IterativeBatch(Workload):
    name = "iterative_batch"

    KINDS = ["run_curation_export", "run_index_build"]

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.curation: dict = {}
        self.n_vectors = 0

    def _request(self, kind: str, data_dir: str) -> dict:
        out = os.path.join(self.out_dir, f"{kind}-{next(self._outs)}")
        fn = getattr(pipelines, kind)
        return self.pipeline_request(kind, lambda: fn(self.spark, data_dir, out), out)

    def warm_up(self) -> None:
        # one cycle over small inputs, its kinds side by side: the same
        # jobs, plans and Python workers as a timed cycle, at a fraction of
        # its cost
        small = datagen.write_tables(os.path.join(self.out_dir, "warm-up-inputs"), self.seed, WARM_SF)
        concurrently(lambda i: self._request(self.KINDS[i], small), len(self.KINDS))
        self.requests.clear()
        shutil.rmtree(self.out_dir)

    def oracle(self, con) -> None:
        self.curation = checks.curation_oracle(con, REGISTRY["curation_pipeline_end2end"].oracle)
        self.n_vectors = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]

    def run(self, seconds: float) -> None:
        deadline = time.time() + seconds
        rng = random.Random(self.seed)
        while time.time() < deadline:
            cycle = list(self.KINDS)
            rng.shuffle(cycle)
            for kind in cycle:
                self._request(kind, self.data_dir)

    def check(self) -> None:
        for req in self.requests:
            if "result" not in req:
                continue
            if req["kind"] == "run_curation_export":
                req["problems"] += checks.curation_problems(req["result"], self.curation)
            elif req["kind"] == "run_index_build":
                req["problems"] += checks.index_problems(req["result"], self.n_vectors)


WORKLOADS = {w.name: w for w in (Core12Mix, DailyEtl, IterativeBatch)}

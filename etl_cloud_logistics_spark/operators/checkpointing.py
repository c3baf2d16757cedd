"""Every eager materialization in the package, and the one switch that
chooses how it is done: the session's checkpoint directory
(``SparkContext.getCheckpointDir()``, set by ``spark.checkpoint.dir`` or
``SparkContext.setCheckpointDir``).

- No directory (the default): LOCAL mode.  Frames are staged by eager
  ``localCheckpoint`` — zero I/O, blocks live on executors and are freed
  by the ContextCleaner with the RDD.  A lost executor fails the job,
  which is fine on local[n] and for short batch steps.
- A directory: RELIABLE mode, the restart-safe choice for long jobs at
  100 TB.  Staged frames are written under it and survive executor loss;
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` (set by
  ``session.get_spark``) deletes each one with its RDD, the lifetime a
  localCheckpoint block has.

Two staging forms read the switch:

- ``materialize(df)`` stages a frame once (multi-consumer inputs, range
  layouts whose partition assignment must not be re-sampled, table
  scans spread for CPU-heavy work).  Reliable mode is Spark's
  ``checkpoint``, the reliable twin of ``localCheckpoint`` with the same
  partition layout.
- ``RoundCheckpointer`` truncates lineage once per round of an iterative
  loop (connected components, PageRank, BFS, SSSP, truss peeling);
  without truncation the final plan nests every prior round's join and
  planning cost explodes.  Local rounds also reset the plan's size
  statistics (``_reset_plan_stats``).  Reliable rounds are written to
  parquet under the directory and read back: two slots alternate so a
  round never overwrites the files it is reading, and each invocation
  namespaces its slots under a unique subdirectory, so concurrent jobs
  and repeated calls never clobber the parquet backing a still-live lazy
  result.

This module is also the one place that knows the graph family's PIN
POLICY: which loop static is re-keyed by its join key, past which size,
in which mode (``PIN_MIN_ROWS``, applied by ``RoundCheckpointer.static``).
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid
import warnings
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

# Pin gates: (operator = RoundCheckpointer prefix, static name, mode) ->
# the row count past which ``static(..., pin_key=...)`` re-keys that static
# by its join key.  The unit is what the loop already counts: NODES for
# pagerank_fixed (n), EDGES for bfs_min_hops/sssp_fixed (the persisted or
# read-back edge static).  A (factor, key) entry is TIED to another entry
# rather than independently settable.  No entry for a (static, mode): never
# pinned there.  The doctrine behind every value is on ``static``.
PIN_MIN_ROWS: dict[tuple[str, str, str], int | tuple[int, tuple[str, str, str]]] = {
    # +20% pinned on the registry graph, 587 MB/round un-pinned at 1e7 (GRAPH_PROBE_r08.txt)
    ("pagerank-fixed", "edges-od", "local"): 50_000,
    # pin rejected at 1e6 nodes; 1410 -> 1122 MB/round at 3e6 nodes (GRAPH_PROBE_r08.txt)
    ("pagerank-fixed", "edges-od", "reliable"): 2_000_000,
    # +48/52% at 1e5/3e5 nodes, -6% at 5e5/1e6 nodes (OPT_ATTR_r12.txt addendum 2)
    ("pagerank-fixed", "nodes", "local"): 500_000,
    # 10 edges/node x the PageRank gate; 1.8 GB BFS shuffle at 1e7 (GRAPH_PROBE_r08.txt)
    ("bfs-visited", "edges", "local"): (10, ("pagerank-fixed", "edges-od", "local")),
    # same tie; also selects the merge carry, -4% at 1e7 (OPT_ATTR_r12.txt addendum 1)
    ("sssp-fixed", "edges", "local"): (10, ("pagerank-fixed", "edges-od", "local")),
    # +26/28% at 1e7/1e8 edges, -48% at 2e8/3e8 edges (OPT_ATTR_r12.txt addendum 3)
    ("sssp-fixed", "edges", "reliable"): 200_000_000,
}

# Observability for _reset_plan_stats' best-effort fallback (r11, VERDICT r10
# "what's wrong" #1): if the JVM seam the reset depends on ever disappears
# (a Spark upgrade renaming ``internalCreateDataFrame`` or reshaping the
# analyzed plan), results stay correct but the geometric stats-BigInt
# slowdown the reset exists to prevent would silently return.  The first
# failure per process warns ONCE (so long loops don't spam), and the counter
# lets tests/probes assert the reset is actually live.
reset_fallback_count = 0
_reset_fallback_warned = False
_reset_fallback_lock = threading.Lock()  # loops run on concurrent query
# threads (the engine's concurrent bench); an unsynchronized += would
# undercount exactly when the signal matters most


def _note_reset_fallback(exc: Exception) -> None:
    global reset_fallback_count, _reset_fallback_warned
    with _reset_fallback_lock:
        reset_fallback_count += 1
        warn_now = not _reset_fallback_warned
        _reset_fallback_warned = True
    if warn_now:
        warnings.warn(
            "RoundCheckpointer: plan-stats reset unavailable "
            f"({type(exc).__name__}: {exc}); iterative loops remain correct "
            "but may slow geometrically on long runs (stats-BigInt growth — "
            "see _reset_plan_stats docstring)",
            RuntimeWarning,
            stacklevel=3,
        )


def _reset_plan_stats(df: DataFrame) -> DataFrame:
    """Rebuild a localCheckpointed frame over its OWN materialized RDD so
    the new LogicalRDD carries DEFAULT size statistics instead of the
    origin plan's (r10 — the geometric-round diagnosis).

    Spark preserves the origin Dataset's estimated statistics through
    ``localCheckpoint``, and the non-CBO estimator
    (``SizeInBytesOnlyStatsPlanVisitor``) MULTIPLIES children's
    ``sizeInBytes`` BigInts through every join/union.  In an iterative
    loop each round's checkpoint therefore seeds the next round's
    estimate with the previous round's product: the BigInt's DIGIT COUNT
    grows ~4x per round (measured 7 -> 24 -> 96 -> 383 -> 1529 -> 6114
    digits over five rounds of a star-contraction components loop), and
    by round ~15 the driver burns whole minutes in Karatsuba/Toom-Cook
    BigInteger multiplies inside stats estimation — a thread dump shows
    170 s of ``BigInteger.multiplyToomCook3`` under ``visitJoin`` — which
    is why late iterative rounds on large graphs slowed geometrically
    (2.6x/round) while rows, plans and GC stayed constant.  The parquet
    round-trip of RELIABLE mode resets stats naturally; this is the
    zero-I/O local-mode equivalent: the SAME checkpointed RDD (no data
    movement, retirement still reaches it through the new plan), fresh
    ``LogicalRDD`` with default stats.  AQE re-plans joins from ACCURATE
    runtime sizes per stage, so losing the estimate costs nothing the
    adaptive planner doesn't recover.

    Not threading ``outputPartitioning`` into the rebuilt ``LogicalRDD``
    (ADVICE r10 raised it: ``localCheckpoint`` preserves it, the rebuild
    drops it) is a MEASURED choice, not an oversight: per-round shuffle
    volumes in the graph family are byte-identical before/after the
    reset landed (GRAPH_PROBE_r10 reproduces r8/r9 exactly;
    GRAPH_PROBE3E7_r11 reproduces the fourth decade) — the loops that
    need partition alignment get it from the PINNED loop statics
    (``static(pin_key=...)``, whose persisted plan keeps Catalyst
    partitioning), and the per-round frame's partitioning was never
    load-bearing.  Threading it would require constructing LogicalRDD
    via py4j (``internalCreateDataFrame`` has no partitioning overload),
    a much bigger JVM-seam risk than the one this function already
    carries.  If a future loop DOES re-exchange per round, the shuffle
    audits will show it — fix it there with a pinned static, not here.
    """
    try:
        jdf = df._jdf
        jrdd = jdf.queryExecution().analyzed().rdd()
        j2 = df.sparkSession._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        return DataFrame(j2, df.sparkSession)
    except Exception as exc:
        # best-effort: plan shape without the reset is still correct, only
        # slower on long loops — but say so, once, loudly enough for a
        # probe/test to notice the reset went dead (VERDICT r10 nit #1)
        _note_reset_fallback(exc)
        return df


def _remove_dir(uri: str) -> None:
    """Delete a directory under the checkpoint directory.  Spark reports
    that directory as a ``file:`` URI; a directory under any other scheme
    is left to its filesystem's own retention (no local cleanup)."""
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file") and os.path.isdir(parsed.path):
        shutil.rmtree(parsed.path, ignore_errors=True)


def materialize(df: DataFrame) -> DataFrame:
    """Stage ``df`` eagerly, once, in the session's mode: ``localCheckpoint``
    without a checkpoint directory, Spark's reliable ``checkpoint`` under
    it.  Both keep the frame's partition layout and truncate its lineage,
    so every consumer reads the staged rows instead of re-running the
    plan.  Plan size statistics carry over, as ``localCheckpoint`` carries
    them; a loop that re-stages its own output every round uses
    ``RoundCheckpointer``, which resets them."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


class RoundCheckpointer:
    """Callable that truncates a DataFrame's lineage once per round, in the
    session's mode (see the module docstring).

    ``chk = RoundCheckpointer(spark, prefix="pagerank-fixed")`` then
    ``frame = chk(frame)`` inside the loop; call
    ``chk.cleanup_stale(returning=frame)`` after the loop to drop the
    slots that only backed intermediate rounds (the final result's slot is
    kept — the returned DataFrame lazily reads it for the life of the
    result; the ``returning`` argument lets the guard prove that frame's
    slot is not among the deleted)."""

    def __init__(self, spark: SparkSession, prefix: str):
        self.calls = 0
        self.prefix = prefix
        self._static_names: list[str] = []
        self._persisted_statics: list[DataFrame] = []
        root = spark.sparkContext.getCheckpointDir()  # a URI, or None: local
        self.run_dir = (
            None if root is None else f"{root.rstrip('/')}/{prefix}-{uuid.uuid4().hex}"
        )

    def _slot(self, i: int) -> str:
        assert self.run_dir is not None
        return f"{self.run_dir}/slot-{i % 2}"

    def __call__(self, df: DataFrame) -> DataFrame:
        if self.run_dir is None:
            # NOTE (r10): an explicit rolling unpersist of superseded round
            # RDDs was tried here and MEASURED HARMFUL — +50% wall on
            # fixed-point PageRank at 1e7 edges (A/B 24.1 s without vs
            # 34.7 s with, stats reset held constant) with no offsetting
            # win once _reset_plan_stats landed (the apparent block-
            # accumulation slowdown that motivated it was actually the
            # stats-estimation BigInt blowup).  Block lifetime stays with
            # the ContextCleaner; do not reintroduce without an A/B.
            return _reset_plan_stats(df.localCheckpoint(eager=True))
        # alternate between two slots: the write target is never a slot any
        # live DataFrame still reads from (round i reads slot (i-1) % 2)
        path = self._slot(self.calls)
        self.calls += 1
        df.write.mode("overwrite").parquet(path)
        out = df.sparkSession.read.parquet(path)
        out._rc_slot_kind = "round"  # see cleanup_stale's misuse guard
        return out

    def static(
        self,
        df: DataFrame,
        name: str,
        pin_key: str | None = None,
        rows: int | None = None,
        lazy: bool = False,
    ) -> DataFrame:
        """Materialize a LOOP-INVARIANT frame (edge lists, out-degrees):
        one dedicated slot per name, written once, never alternated —
        every round reads it, so in reliable mode it must survive executor
        loss exactly like the per-round labels do.

        ``pin_key`` names the static's per-round join key.  The static is
        PINNED by it — hash-partitioned on the key and persisted, so every
        round's join against it is exchange-free on the static side — once
        ``rows`` reaches this operator's gate for the mode in
        ``PIN_MIN_ROWS``.  ``rows`` is the count the loop already holds;
        when omitted, the static's own rows are counted where the mode
        materializes them anyway (local: one persist + count that also
        feeds the static; reliable: the parquet read-back), and only when
        the table has a gate to answer.  Calling ``static`` again on a
        frame it returned is the post-hoc form (the gate's count only
        exists once that static has materialized): nothing is re-written,
        only the gated pin applies.  A pinned static comes back cached
        (``df.is_cached``); one the gate left unpinned does not, unless
        ``lazy``.

        The gate doctrine, measured rather than assumed (the records are
        cited on each table entry):

        - below the gate the pin is a pure tax: broadcast joins are free on
          floor-sized graphs, and the pinned columnar cache round-trip plus
          the shuffle join it forces cost +15-20% per invocation on the
          registry graph; above it the un-pinned join re-exchanges the
          O(|E|) static every round (587 MB/round at 1e7 edges);
        - local mode pins the frame INSTEAD of localCheckpointing it — the
          cached PLAN keeps its Catalyst ``outputPartitioning``, which
          ``localCheckpoint`` (an RDD scan) drops;
        - reliable mode gates higher: the parquet read-back carries
          accurate size statistics, so while the other (ranks/frontier/
          distance) side fits AQE's broadcast threshold the static never
          re-exchanges and the pin only adds its re-key cost.  The parquet
          slot stays the durable record and the pin is a cache layered
          over it, so a lost executor recomputes pinned blocks from the
          file;
        - a post-hoc pin layers over an already-checkpointed frame the same
          way; its one-off re-key job is noise in the regimes it is gated
          to.

        Pinned blocks are unpersisted by ``cleanup_stale``/``cleanup_all``.

        ``lazy`` (r11 optimization round — guide §2.4, remove jobs
        outright): in LOCAL mode, an un-pinned static is ``persist()``-ed
        instead of eagerly localCheckpointed, so its materialization folds
        into the first action that already has to read it (a count, round
        1 of the loop) instead of being its own scheduled job.  On
        floor-sized graphs the per-JOB floor, not data, dominates iterative
        walls, so every folded job is wall time off; the cache entry is
        released by ``cleanup_stale``/``cleanup_all`` as with pinned
        statics.  Ignored in RELIABLE mode (the eager parquet write IS the
        durability contract)."""
        gate = None if pin_key is None else self._pin_gate(name)
        if getattr(df, "_rc_slot_kind", None) == "static":
            out = df
        elif self.run_dir is None:
            pre = None
            if gate is not None and rows is None:
                pre = df = df.persist()
                rows = df.count()
            if gate is not None and rows >= gate:
                out = self._pin(df, pin_key)
            elif lazy:
                out = df.persist()
                self._persisted_statics.append(out)
            else:
                out = df.localCheckpoint(eager=True)
            if pre is not None:
                pre.unpersist()
            out._rc_slot_kind = "static"
            return out
        else:
            path = f"{self.run_dir}/static-{name}"
            self._static_names.append(name)
            df.write.mode("overwrite").parquet(path)
            out = df.sparkSession.read.parquet(path)
        if gate is not None:
            if rows is None:
                rows = out.count()
            if rows >= gate:
                out = self._pin(out, pin_key)
        out._rc_slot_kind = "static"
        return out

    def _pin_gate(self, name: str) -> int | None:
        mode = "local" if self.run_dir is None else "reliable"
        gate = PIN_MIN_ROWS.get((self.prefix, name, mode))
        if isinstance(gate, tuple):
            factor, key = gate
            gate = factor * PIN_MIN_ROWS[key]
        return gate

    def _pin(self, df: DataFrame, pin_key: str) -> DataFrame:
        out = df.repartition(pin_key).persist()
        out.count()  # eager, like the checkpoint path
        self._persisted_statics.append(out)
        return out

    def cleanup_stale(self, returning: DataFrame | None = None) -> None:
        """Remove everything the caller's RETURNED frame does not read —
        the alternate round slot AND every static slot — so shared
        checkpoint dirs don't accumulate stale files across invocations.
        Statics are loop-internal by contract (edge lists, out-degrees the
        rounds join against); the final result is always a materialized
        round slot, so once the loop ends the statics are pure garbage.

        Misuse guard (r8, verdict item 5 — previously contract-by-docstring):
        in reliable mode, when static slots exist the caller MUST pass
        ``returning=<the checkpointed frame it is about to return>`` so
        this method can prove it is not deleting that frame's backing
        parquet — a frame produced by ``static()`` raises instead of being
        silently broken, and omitting ``returning`` raises rather than
        trusting the comment.  Pass the frame as returned by ``chk(df)``
        (before any further ``.select``/``.filter``, which produce new
        DataFrame objects without the slot marker).

        Local mode only unpersists the static blocks — safe even if a
        static frame escaped (a persisted frame recomputes from its
        lineage); only the reliable mode's file deletion is destructive
        enough to need the proof-of-returning guard."""
        if self.run_dir is None:
            self._unpersist_statics()
            return
        if self._static_names:
            if returning is None:
                raise ValueError(
                    "cleanup_stale: static slots exist "
                    f"({self._static_names}); pass returning=<the round-"
                    "slot frame you are about to return> so deleting its "
                    "backing files is provably impossible"
                )
            if getattr(returning, "_rc_slot_kind", None) != "round":
                raise ValueError(
                    "cleanup_stale would delete the parquet backing the "
                    "frame you are returning (it is not a round-slot frame "
                    "from chk(df)); return a round-checkpointed frame, or "
                    "use cleanup_all() only once nothing reads this "
                    "checkpointer's files"
                )
        if self.calls >= 2:
            _remove_dir(self._slot(self.calls))
        self._unpersist_statics()  # pinned caches layered over the slots
        for name in self._static_names:
            _remove_dir(f"{self.run_dir}/static-{name}")
        self._static_names.clear()

    def _unpersist_statics(self) -> None:
        for df in self._persisted_statics:
            df.unpersist()
        self._persisted_statics.clear()

    def cleanup_all(self) -> None:
        """Remove the whole per-invocation directory — only valid when NO
        live DataFrame reads any of its slots (e.g. a purely-intermediate
        stream like BFS's per-level frontier after the loop ends).  In
        local mode, unpersists any static blocks instead."""
        self._unpersist_statics()
        if self.run_dir is not None:
            _remove_dir(self.run_dir)

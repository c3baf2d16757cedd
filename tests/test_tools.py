"""Regression tests for the metrics reader the bench, the tools and the
probe records are built on (etl_cloud_logistics_spark/metrics.py) — a
biased meter poisons every artifact that quotes it, so the meter gets its
own pins — and the AST guards on the package's shape: one status-store
reader, one materialization path, every public operator reached from the
product surface, and every branch a reached operator takes on a defaulted
parameter selected by some product call."""

from __future__ import annotations

import ast
import glob
import os
from collections import defaultdict
from dataclasses import dataclass, field

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


def test_checkpoints_are_taken_only_through_the_checkpointing_module():
    """One materialization path: no ``.localCheckpoint(`` or
    ``.checkpoint(`` call in the package outside
    ``operators/checkpointing.py``, whose ``materialize`` and
    ``RoundCheckpointer`` read the session's checkpoint mode."""
    pkg = os.path.join(ROOT, "etl_cloud_logistics_spark")
    home = os.path.join(pkg, "operators", "checkpointing.py")
    offenders, seen = [], 0
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                seen += 1
                if path != home:
                    offenders.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    assert seen >= 2  # the module's own calls: the scan is not vacuous
    assert not offenders, offenders


# Public package names that no query, pipeline or streaming job reaches and
# that stay anyway, each with its reason (a method as ``module.Class.method``).
# Whatever they use is reached through them.
REACH_EXEMPT = {
    "sources.generator.generate_trips_like": (
        "COVERAGE F22: the weighted-distribution generator; no reached code "
        "covers F22"
    ),
    "operators.similarity.srp_signatures": (
        "the relational reference twin that srp_signatures_arrow is pinned "
        "bit-identical to"
    ),
    "streaming.jobs.eta_stream": (
        "COVERAGE ST3: the periodic ETA recompute; no reached code covers ST3"
    ),
    "streaming.jobs.deviation_alert_stream": (
        "COVERAGE F20: the minimum distance over a waypoint list; "
        "geo_movement_per_user computes F19's consecutive jumps, not F20"
    ),
}

# The product surface: every entry point that something other than a test
# runs, with who runs it.  A module entry is reached whole, except the
# non-dunder methods of its classes; a ``module.name`` entry reaches that
# top-level def; ``@register`` stands for every registry-decorated query
# def.  The rest of the package is reached only through these.
PRODUCT_ENTRY = {
    "__spark_entry__": "the verify contract: entry(), queries() and oracle_sql()",
    "queries": "the verify contract: the query registry module",
    "@register": "the verify contract: every registered query def",
    "pipelines.run_daily_etl": "perfbench daily_etl",
    "pipelines.run_curation_export": "perfbench iterative_batch",
    "pipelines.run_index_build": "perfbench iterative_batch",
    "streaming.pipeline.start_streaming_pipeline": "the streaming pipeline",
    "streaming.pipeline.run_until_drained": "the streaming pipeline",
    "catalog": "library: schemas, table loaders and session confs",
    "session": "library: the SparkSession factory",
    "metrics": "library: the status-store reader",
}


def _code_names(node):
    """Identifiers ``node`` uses as code: ``x`` for a name, ``.x`` for an
    attribute name.  String constants (docstrings included) and comments
    never count."""
    return {
        n.id if isinstance(n, ast.Name) else "." + n.attr
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute))
    }


def _is_method(node):
    return (
        isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not (node.name.startswith("__") and node.name.endswith("__"))
    )


def _class_header(node):
    """What a reached class name reaches: decorators, bases, keywords,
    class-level statements and dunder methods — not its other methods."""
    return [
        *node.decorator_list,
        *node.bases,
        *node.keywords,
        *[stmt for stmt in node.body if not _is_method(stmt)],
    ]


def _is_registered(node):
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
        isinstance(d, ast.Call) and "register" in _code_names(d.func)
        for d in node.decorator_list
    )


@dataclass
class _ProductWalk:
    """The package as the guards see it, walked from ``PRODUCT_ENTRY``."""

    entries: set  # the PRODUCT_ENTRY keys other than ``@register``
    resolved: set = field(default_factory=set)  # entries found in the code
    seed: set = field(default_factory=set)  # names the entries use
    bodies: dict = field(default_factory=lambda: defaultdict(list))  # name -> nodes it reaches
    public: dict = field(default_factory=dict)  # "module.name" -> name, "module.Class.method" -> .method
    defs: dict = field(default_factory=dict)  # public non-entry def or method -> its node
    trees: list = field(default_factory=list)  # every parsed file, entries included

    def reach(self, names):
        reached, todo = set(), list(names)
        while todo:
            name = todo.pop()
            if name not in reached:
                reached.add(name)
                if name.startswith("."):
                    todo.append(name[1:])  # ``module.fn`` reaches ``fn``
                for node in self.bodies[name]:
                    todo.extend(_code_names(node) - reached)
        return reached


def _product_walk():
    """Parse the package and ``__spark_entry__.py``.  A module entry is
    reached whole, except the non-dunder methods of its classes; a def entry,
    and every ``@register`` query def, reaches its own name.  A reached name
    reaches every top-level def, class header or assignment of the package
    that binds it; a method is reached only by an attribute name
    (``x.method``), never by a bare name."""
    pkg = os.path.join(ROOT, "etl_cloud_logistics_spark")
    paths = {"__spark_entry__": os.path.join(ROOT, "__spark_entry__.py")}
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        mod = os.path.relpath(path, pkg)[: -len(".py")].replace(os.sep, ".")
        paths[mod.removesuffix(".__init__")] = path
    walk = _ProductWalk(entries=set(PRODUCT_ENTRY) - {"@register"})
    for mod, path in paths.items():
        with open(path) as fh:
            tree = ast.parse(fh.read())
        walk.trees.append(tree)
        is_entry = mod in walk.entries
        walk.resolved |= {mod} & walk.entries
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                for meth in filter(_is_method, node.body):
                    walk.bodies["." + meth.name].append(meth)
                    if not (node.name.startswith("_") or meth.name.startswith("_")):
                        walk.public[f"{mod}.{node.name}.{meth.name}"] = "." + meth.name
                        walk.defs[f"{mod}.{node.name}.{meth.name}"] = meth
                header = _class_header(node)
            else:
                header = [node]
            if is_entry:
                for part in header:
                    walk.seed |= _code_names(part)
                continue
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                walk.bodies[node.name].extend(header)
                names = [node.name]
                if f"{mod}.{node.name}" in walk.entries or _is_registered(node):
                    walk.resolved.add(f"{mod}.{node.name}")
                    walk.seed.add(node.name)
                elif not (isinstance(node, ast.ClassDef) or node.name.startswith("_")):
                    walk.defs[f"{mod}.{node.name}"] = node
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
                for name in names:
                    walk.bodies[name].append(node)
            else:
                names = []
            for name in names:
                if not name.startswith("_"):
                    walk.public[f"{mod}.{name}"] = name
    return walk


def test_every_public_package_name_is_reached():
    """A name walk from the product surface (``PRODUCT_ENTRY``, walked by
    ``_product_walk``).  Each public top-level def, class and assigned name,
    and each public method of a public class, must be reached or be in
    ``REACH_EXEMPT``, and no exemption may be reached without it.

    Known limit: the walk matches names, not types.  A reached ``x.write``
    reaches every method named ``write``, and a reached ``run`` reaches
    every top-level ``run`` in the package, so a name that shares its
    spelling with a reached one passes unchecked."""
    walk = _product_walk()
    public = walk.public
    assert walk.entries <= walk.resolved, (
        f"stale PRODUCT_ENTRY: {sorted(walk.entries - walk.resolved)}"
    )
    assert sum(q.startswith("queries.") for q in walk.resolved) > 100  # the @register defs
    assert len(public) > 100
    assert any(name.startswith(".") for name in public.values())
    assert set(REACH_EXEMPT) <= set(public), set(REACH_EXEMPT) - set(public)
    from_surface = walk.reach(walk.seed)
    stale = [q for q in REACH_EXEMPT if public[q] in from_surface]
    assert not stale, f"exempt but reached, drop the exemption: {stale}"
    reached = walk.reach(walk.seed | {public[q] for q in REACH_EXEMPT})
    unreached = sorted(q for q, name in public.items() if name not in reached)
    assert not unreached, f"public names no query, pipeline or streaming job reaches: {unreached}"


# Forks (see the guard below) that no product call sets and that stay anyway,
# each as ``"module.def(param)"`` with its reason.
OPTION_EXEMPT = {}


def _defaults(fn):
    """Each defaulted parameter of ``fn`` -> its default, as an AST dump."""
    args = fn.args
    positional = [*args.posonlyargs, *args.args]
    pairs = [
        *zip(positional[len(positional) - len(args.defaults) :], args.defaults),
        *((a, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None),
    ]
    return {a.arg: ast.dump(d) for a, d in pairs}


def _forks(fn):
    """The defaulted parameters of ``fn`` that an ``if``/``elif``/``while``
    or conditional expression in its body tests.  An ``if`` whose body only
    raises is input validation, not a fork."""
    defaulted = _defaults(fn)
    tested = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.If) and all(isinstance(s, ast.Raise) for s in node.body):
            continue
        if isinstance(node, (ast.If, ast.While, ast.IfExp)):
            tested |= {n.id for n in ast.walk(node.test) if isinstance(n, ast.Name)}
    return [p for p in defaulted if p in tested]


def _passed(call, param, index):
    """The argument ``call`` passes for ``param`` (positional slot
    ``index``, or None for keyword-only): a keyword value or a positional
    argument; ``True`` when ``*``/``**`` may carry it; None if not passed."""
    for k in call.keywords:
        if k.arg == param:
            return k.value
    if any(k.arg is None for k in call.keywords):
        return True
    if index is not None and any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if index is not None and len(call.args) > index:
        return call.args[index]
    return None


def _forwards(call, arg, default, enclosing):
    """Whether ``arg``, passed by ``call`` for a parameter whose default is
    ``default``, only forwards that default: a bare name of a parameter of
    the def the call sits in, with the same default.  A different default
    is a value of the forwarding def's own."""
    if not isinstance(arg, ast.Name) or id(call) not in enclosing:
        return False
    return _defaults(enclosing[id(call)]).get(arg.id) == default


@dataclass
class _Def:
    """A def the fork guard resolves calls to, with its fork parameters."""

    node: ast.AST
    positional: list  # parameter names a positional argument fills, in order
    defaults: dict  # _defaults(node)
    forks: set


def _package_defs(walk):
    """Every def of the package by the name a call uses: ``f`` for a
    top-level def, ``.m`` for a method, and a class name for its
    ``__init__``; each with its forks, grown to a fixed point by forwarding
    (``_forwards``): a defaulted parameter a def passes as a bare name to a
    callee's fork with the same default is a fork of that def too.  Also returns, per call node, the innermost
    def, method or lambda the call sits in."""
    defs = defaultdict(list)
    enclosing = {}  # id(call) -> innermost enclosing def node

    def add(key, fn, method):
        positional = [a.arg for a in (*fn.args.posonlyargs, *fn.args.args)]
        if method and not any("staticmethod" in _code_names(d) for d in fn.decorator_list):
            positional = positional[1:]  # self / cls
        defs[key].append(_Def(fn, positional, _defaults(fn), set(_forks(fn))))
        for node in ast.walk(fn):  # breadth first: inner defs come later
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                for call in ast.walk(node):
                    if isinstance(call, ast.Call):
                        enclosing[id(call)] = node

    for tree in walk.trees:
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                add(node.name, node, method=False)
            elif isinstance(node, ast.ClassDef):
                for meth in node.body:
                    if isinstance(meth, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        key = node.name if meth.name == "__init__" else "." + meth.name
                        add(key, meth, method=True)
    changed = True
    while changed:
        changed = False
        for d in (d for group in list(defs.values()) for d in group):
            for call in ast.walk(d.node):
                if not isinstance(call, ast.Call) or enclosing[id(call)] is not d.node:
                    continue
                for callee in _callees(defs, call):
                    for param in callee.forks:
                        index = callee.positional.index(param) if param in callee.positional else None
                        arg = _passed(call, param, index)
                        if _forwards(call, arg, callee.defaults[param], enclosing):
                            changed |= arg.id not in d.forks
                            d.forks.add(arg.id)
    return defs, enclosing


def _callees(defs, call):
    """The defs ``call`` may reach, matched by name: ``f(...)`` a top-level
    def or class named ``f``, ``x.f(...)`` a method or a module's def ``f``."""
    if isinstance(call.func, ast.Name):
        return defs.get(call.func.id, [])
    if isinstance(call.func, ast.Attribute):
        return defs.get("." + call.func.attr, []) + defs.get(call.func.attr, [])
    return []


def test_every_fork_is_set_by_a_product_caller():
    """Each fork of a reached public def or method that is not itself an
    entry — a defaulted parameter its body branches on (``_forks``), or
    forwards as a bare name to a callee's fork with the same default
    (``_package_defs``) — must be passed a value, by keyword, by position
    or through ``*args``/``**kwargs``, by at least one call in the package
    or ``__spark_entry__.py`` outside the def itself, or be in
    ``OPTION_EXEMPT``; no exemption may be set by such a call.  A call that
    only forwards a defaulted parameter of the def it sits in, with the
    same default, does not set it: that parameter is a fork of the
    forwarding def instead.  Calls in tests, tools, ``bench.py`` and
    ``perfbench/`` do not count: a branch only they select is not product
    code.

    Known limits: calls match by name, as in the reachability walk (a call
    ``x.run(k=1)`` sets ``k`` for every method named ``run``, and a
    forward to any def named ``run`` with a fork ``k`` makes a fork); a
    forward is a bare parameter name only, so passing it through an
    expression or a container hides it; and the guard sees which
    parameters a caller passes, not which values, so a required parameter
    whose every product call passes the same value (a branch on ``n is
    None`` that no caller takes) passes unchecked."""
    walk = _product_walk()
    reached = walk.reach(walk.seed)
    defs, enclosing = _package_defs(walk)
    calls = defaultdict(list)  # name or .attr -> call nodes
    for tree in walk.trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                if isinstance(node.func, ast.Name):
                    calls[node.func.id].append(node)
                elif isinstance(node.func, ast.Attribute):
                    calls["." + node.func.attr].append(node)
    by_node = {id(d.node): d for group in defs.values() for d in group}
    checked, unset = 0, {}
    for qual, fn in walk.defs.items():
        name = walk.public[qual]
        if name not in reached:
            continue
        checked += 1
        method = name.startswith(".")
        own = {id(n) for n in ast.walk(fn)}
        callers = [
            c
            for c in calls["." + name.lstrip(".")] + ([] if method else calls[name])
            if id(c) not in own
        ]
        d = by_node[id(fn)]
        for param in sorted(d.forks):
            index = d.positional.index(param) if param in d.positional else None
            if not any(
                (arg := _passed(c, param, index)) is not None
                and not _forwards(c, arg, d.defaults[param], enclosing)
                for c in callers
            ):
                unset[f"{qual}({param})"] = name
    assert checked > 100
    stale = sorted(set(OPTION_EXEMPT) - set(unset))
    assert not stale, f"exempt but set by a product call (or gone), drop the exemption: {stale}"
    forks = sorted(set(unset) - set(OPTION_EXEMPT))
    assert not forks, f"forks no product call sets, delete the branch: {forks}"

"""Iterative graph analytics over an edge list: bit-exact fixed-point
PageRank and frontier BFS — rank the co-purchase graph's influential
parts, the near-dup graph's hub documents, the event-transition graph's
sink states.

Same iterative discipline as ``neardup_components``:

- each round is ONE shuffle join (ranks ⋈ edges on src, contributions
  re-keyed to dst) plus one aggregation — no collect of graph data;
- lineage truncates every round (``RoundCheckpointer``, in the session's
  checkpoint mode), keeping the plan one-iteration deep instead of
  nesting every prior round;
- loop statics that every round joins against are pinned by their join
  key once the graph is big enough — a policy ``RoundCheckpointer`` owns
  (``operators.checkpointing.PIN_MIN_ROWS``), not the loops.

PageRank semantics (Page et al. 1999, power iteration on the Google
matrix): ``rank = (1-d)/N + d · (Σ_in rank/out_deg + dangling_mass/N)`` —
dangling nodes (no out-edges) redistribute their mass uniformly, so total
rank stays 1.0 every round (up to the fixed-point floor; the per-round
dangling mass is one broadcast scalar).  ``pagerank_fixed`` runs it in
scaled integers, so the result is bit-exact and the differential test
compares it against driver-side numpy power iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .checkpointing import RoundCheckpointer, materialize

PR_SCALE = 10**15  # fixed-point unit for pagerank_fixed (1.0 == 10^15)


def bfs_min_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int | None = None,
) -> DataFrame:
    """Minimum hop count from ``seeds`` (a DataFrame with one ``node``
    column) to every reachable node, by frontier-deduplicated BFS.

    Why not a recursive CTE: a ``UNION ALL`` recursive step enumerates
    every *walk*, not the frontier — walk count grows ~avg_degree^depth
    (the r5 driver row shuffled 628 MB for a ≤|V|-row answer).  Per-level
    dedup bounds every round at |frontier ∪ visited| rows instead: each
    level is one equi-join frontier⋈edges (the frontier is broadcast-sized
    in practice), a ``distinct``, and an anti-join against the visited set
    — the textbook level-synchronous BFS (Pregel's traversal shape) in
    DataFrame form.  Lineage truncates every level (``RoundCheckpointer``),
    and iteration stops when the frontier empties or at ``max_hops``.

    Returns (node, hops) — first-visit level == minimum hop distance,
    because level h is explored only after all nodes at < h are visited.

    The visited set and the per-level frontier are independent streams,
    so each gets its own checkpointer (in reliable mode, its own
    alternating slot pair)."""
    spark = edges.sparkSession
    chk_v = RoundCheckpointer(spark, prefix="bfs-visited")
    chk_f = RoundCheckpointer(spark, prefix="bfs-frontier")
    edges_frame = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    # distinct() leaves the edge list partitioned by (src, dst); on big
    # graphs the checkpointer re-keys it by the per-level join key so every
    # level's join is exchange-free on the edge side (r8 probe finding —
    # 1.8 GB of BFS shuffle at 1e7 edges, mostly the edge side)
    e = chk_v.static(edges_frame, "edges", pin_key="src")
    visited = chk_v(
        seeds.select("node").distinct().withColumn("hops", F.lit(0))
    )
    frontier = visited.select("node")
    h = 0
    while max_hops is None or h < max_hops:
        h += 1
        nxt = chk_f(
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h))
        )
        if nxt.isEmpty():
            break
        visited = chk_v(visited.union(nxt))
        frontier = nxt.select("node")
    chk_v.cleanup_stale(returning=visited)
    chk_f.cleanup_all()  # purely intermediate: nothing reads frontiers now
    return visited


def pagerank_fixed(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 12,
    damping_pct: int = 85,
    scale: int = PR_SCALE,
) -> DataFrame:
    """PageRank in scaled-BIGINT fixed point: ranks are integers in units
    of ``1/scale`` and every operation is integer add/multiply/floor-div —
    no floating point anywhere, so the result is a pure function of the
    edge set, independent of partitioning, aggregation order, and engine.
    That buys what float ranks cannot have: a bit-exact SQL oracle (the
    registry row unrolls the same ``n_iter`` iterations as chained CTEs
    with the same ``//`` arithmetic in DuckDB).

    Per iteration (the Google-matrix semantics in the module docstring):
    ``r' = base + (d_pct * (Σ_in r//out_deg + dang//n)) // 100`` with
    ``base = (100-d_pct)*scale // (100*n)``.  Floor division loses at most
    1 unit (1e-15) per term per round — far below any ranking-relevant
    difference (differential-tested against float power iteration) — and
    loses it IDENTICALLY in every engine, which is the point.

    Scale shape (r7 restructure — the static parts of every round are
    hoisted out of the loop, cutting per-round work roughly in half with
    bit-identical arithmetic):

    - out-degree is a property of the edge set, not the ranks, so it is
      joined INTO the edge list once before the loop — each round is then
      ONE ranks⋈edges shuffle join + one aggregation instead of two joins;
    - the dangling-node set is likewise static; its size is counted once,
      and when it is zero (every symmetric/undirected graph, e.g. the
      co-purchase graph) the per-round dangling-mass aggregate + broadcast
      is dropped from the plan entirely — ``dm`` is identically 0, so the
      round arithmetic is unchanged bit-for-bit;
    - lineage truncates per checkpointed round, as before
      (operators.checkpointing.RoundCheckpointer, shared with
      ``neardup_components``; its reliable mode is the executor-loss-safe
      one for long jobs on a real cluster).

    Returns (node, rank_fp: long)."""
    chk = RoundCheckpointer(edges.sparkSession, prefix="pagerank-fixed")
    # r11 optimization round (guide §2.4 — remove jobs outright): the
    # pre-loop section used to schedule SIX actions (edges static, nodes
    # static, nodes.count, edges-od static, dangling count, ranks-init
    # checkpoint) before the first iteration ran — measured 13 SQL
    # executions on the registry row, nearly all per-job scheduling floor
    # (18.7 MB total shuffle).  Three of those barriers fold away with the
    # per-round plans left bit-identical:
    #
    # - ``e`` has no in-loop consumer (rounds read ``e_od``/``nodes``), so
    #   it becomes a LAZY persist whose materialization rides the nodes
    #   static's job — its own execution disappears;
    # - n and n_dangling come from ONE aggregate over the nodes static
    #   (left join against the distinct src set) instead of two counts;
    # - the ranks seed is a narrow map over the nodes static — no
    #   checkpoint of its own; round 1's in-loop checkpoint truncates
    #   lineage exactly as before.
    #
    # Statics the ROUNDS join against (``nodes``, ``e_od``) deliberately
    # keep the eager RDD localCheckpoint: a lazy-persist variant was
    # measured and REJECTED — the per-round joins then read the columnar
    # cache instead of RDD blocks, +25-30% per round on the registry graph
    # (the same columnar-cache round-trip cost documented on the pin path
    # in RoundCheckpointer.static), which ate the folded jobs' savings.
    e = chk.static(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct(),
        "edges",
        lazy=True,
    )
    nodes = chk.static(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct(),
        "nodes",
    )
    # one action for BOTH graph constants: n (node count) and n_dangling
    # (nodes with no out-edge) — previously nodes.count() plus a separate
    # anti-join count.  Every src IS a node by construction, so
    # n_dangling = n − |distinct srcs|; a two-group union count gets both
    # in one job whose only exchange is the src-distinct (map-side
    # partial counts reduce the union to 2 rows) — strictly less shuffle
    # than the old nodes⋈srcs anti-join, measured −16 MB at 1e7 edges.
    srcs = e.select(F.col("src").alias("node")).distinct()
    counts = {
        r["k"]: r["c"]
        for r in nodes.select(F.lit("n").alias("k"))
        .unionAll(srcs.select(F.lit("s").alias("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n = counts.get("n", 0)
    n_dangling = n - counts.get("s", 0)
    if n == 0:
        # empty graph: in reliable mode `nodes` is backed by a static slot
        # under the shared checkpoint directory — returning it would leak
        # the run dir forever (r8 ADVICE fix).  Hand back an unbacked empty
        # literal frame and remove the whole per-invocation dir first.
        schema = T.StructType(
            nodes.schema.fields + [T.StructField("rank_fp", T.LongType())]
        )
        chk.cleanup_all()
        return edges.sparkSession.createDataFrame([], schema)
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # the edge static pins by the rounds' join key on big graphs (r8,
    # power-law probe finding): only the O(|V|) ranks side + the message
    # aggregation then shuffle per round, not the O(|E|) edge list
    e_od_frame = e.join(out_deg, "src").select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst"), "od"
    )
    e_od = chk.static(e_od_frame, "edges-od", pin_key="e_src", rows=n)
    # r12 resumed session (guide §2.3 — shuffle fewer bytes): post-hoc pin
    # of the already-checkpointed nodes static by its per-round join key,
    # so on big graphs the nodes⋈contribs LEFT join stops writing the
    # O(|V|) node list to an exchange every round (measured 679.3 → 639.6
    # MB per invocation at 1e7 Zipf edges / 1e6 nodes, bit-equal).  It
    # layers ON TOP of the checkpoint rather than replacing it, so below
    # the gate — every registry/driver graph — the plan is unchanged.
    nodes = chk.static(nodes, "nodes", pin_key="node", rows=n)
    if n_dangling:
        # hoist the SET too, not just the count: the per-round dang
        # aggregate semi-joins against it, and a lazy frame would re-run
        # the distinct + anti-join inside every round (review, r7)
        dangling = nodes.join(srcs, "node", "left_anti")
        dangling = chk.static(dangling.select("node"), "dangling")
    else:
        dangling = None
    base = (100 - damping_pct) * scale // (100 * n)
    # seed ranks as a narrow map over the nodes static — no checkpoint of
    # its own; the first in-loop checkpoint truncates lineage as before
    ranks = nodes.withColumn("r", F.lit(scale // n).cast("long"))
    if n_iter == 0:
        # degenerate call: the loop never checkpoints, but cleanup_stale
        # requires (and the caller receives) a round-slot frame
        ranks = chk(ranks)
    for it in range(n_iter):
        contribs = (
            ranks.join(e_od, ranks["node"] == e_od["e_src"])
            .select(F.col("e_dst").alias("node"), F.expr("r div od").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        new = nodes.join(contribs, "node", "left")
        if n_dangling:
            dang = (
                ranks.join(dangling.select("node"), "node", "left_semi")
                .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("dm"))
            )
            new = new.crossJoin(F.broadcast(dang)).select(
                "node",
                F.expr(
                    f"{base}L + ({damping_pct} * (coalesce(inflow, 0L)"
                    f" + dm div {n})) div 100"
                ).alias("r"),
            )
        else:
            new = new.select(
                "node",
                F.expr(
                    f"{base}L + ({damping_pct} * coalesce(inflow, 0L)) div 100"
                ).alias("r"),
            )
        # checkpoint every SECOND round (and the last): lineage stays ≤ 2
        # rounds deep — no exponential plan growth — while half the
        # materialization jobs disappear; on small-diameter graphs the
        # per-job floor, not the shuffle, dominates each round's cost
        if it % 2 == 1 or it == n_iter - 1:
            new = chk(new)
        ranks = new
    chk.cleanup_stale(returning=ranks)
    return ranks.select("node", F.col("r").alias("rank_fp"))


def _oriented_triangle_stream(
    edges: DataFrame, src_col: str, dst_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of ``triangle_stats`` / ``triangle_support``: canonical
    edge set ``e`` (lo < hi, distinct), per-node ``deg``, and the exact
    once-per-triangle stream ``tri`` (a, b, c in (degree, id)-rank order —
    NOT id order) via degree-ordered orientation.  See ``triangle_stats``
    for the algorithm and its scale argument."""
    e = (
        edges.select(F.col(src_col).alias("x"), F.col(dst_col).alias("y"))
        .filter("x <> y")
        .select(F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi"))
        .distinct()
    )
    e = materialize(e)
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionAll(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    oriented = (
        e.join(deg.select(F.col("node").alias("lo"), F.col("degree").alias("dlo")), "lo")
        .join(deg.select(F.col("node").alias("hi"), F.col("degree").alias("dhi")), "hi")
        # rank(lo) < rank(hi) ⟺ dlo < dhi, or degree tie broken by the
        # canonical lo < hi — so the tie case is exactly dlo <= dhi
        .select(
            F.when(F.col("dlo") <= F.col("dhi"), F.col("lo"))
            .otherwise(F.col("hi"))
            .alias("u"),
            F.when(F.col("dlo") <= F.col("dhi"), F.col("hi"))
            .otherwise(F.col("lo"))
            .alias("v"),
            F.when(F.col("dlo") <= F.col("dhi"), F.col("dhi"))
            .otherwise(F.col("dlo"))
            .alias("dv"),
        )
    )
    oriented = materialize(oriented)
    e1 = oriented.select("u", F.col("v").alias("b"), F.col("dv").alias("db"))
    e2 = oriented.select("u", F.col("v").alias("c"), F.col("dv").alias("dc"))
    wedges = e1.join(e2, "u").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closure = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = wedges.join(closure, ["b", "c"]).select(F.col("u").alias("a"), "b", "c")
    return e, deg, tri


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact per-node triangle counts + local clustering coefficient by
    degree-ordered edge orientation (the MapReduce triangle scheme of
    Suri & Vassilvitskii 2011, "Counting Triangles and the Curse of the
    Last Reducer") — transitivity of the near-dup graph, cohesion of the
    co-purchase graph.

    The naive wedge join keys on each wedge CENTER, so a degree-d hub
    emits d² candidate wedges — the "last reducer" that stalls the job on
    any power-law graph.  Orienting every edge from its (degree, id)-
    lexicographic smaller endpoint to its larger caps every node's
    OUT-degree at O(√m): a hub's wedges are generated by its low-degree
    neighbors, never by the hub, bounding total wedge volume at O(m^{3/2})
    (the arboricity bound) independent of the degree distribution.  Each
    triangle {a, b, c} with rank(a) < rank(b) < rank(c) survives exactly
    once, as wedge (a; b, c) closed by oriented edge b→c.

    Plan shape — every stage an equi-join or map-side-combinable agg, all
    JVM-side:

    1. canonicalize + distinct (one shuffle on the edge pair);
    2. degrees: groupBy over the symmetrized endpoint list (O(V) rows out);
    3. orient: two broadcast-eligible joins of degrees onto edges (AQE
       picks broadcast while degrees fit, hash-join beyond);
    4. wedges ⋈ closure: self-join on the wedge center, then ONE equi-join
       of the (b, c)-keyed wedge stream against the oriented edge set —
       no cartesian, no driver-side adjacency;
    5. per-node counts: explode each triangle's three corners, groupBy.

    The canonical edge set and the oriented edge set are eagerly staged
    (``materialize``): edges feed degree + both
    orientation joins, oriented feeds three consumers (both wedge sides +
    closure) — without truncation the upstream derivation (for the
    near-dup caller: the whole SimHash subtree) re-executes per consumer.
    Same multi-consumer discipline as ``pagerank_copurchase``'s mined-pair
    checkpoint; at cluster scale the materialization is executor blocks
    or checkpoint files, never a driver collect.

    Returns (node, degree, triangles, clustering): degree over the simple
    undirected graph, triangles the node participates in, clustering =
    2·T / (deg·(deg−1)) — both operands exact integers, so the single
    IEEE division is engine-exact (the registry's integer-operand
    division doctrine) — and 0.0 for degree-1 nodes.
    """
    e, deg, tri = _oriented_triangle_stream(edges, src_col, dst_col)
    # ONE generator pass over the triangle stream — a three-branch union
    # would give tri three consumers and re-execute the wedge+closure
    # subtree once per corner (probe-caught at the 4e6-edge tier: three
    # 36M-row closure joins, ~4.7× the necessary shuffle;
    # TRIANGLE_PROBE_r11.txt)
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    tcount = corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    return deg.join(tcount, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias("triangles"),
        F.when(
            F.col("degree") > 1,
            (F.lit(2.0) * F.coalesce(F.col("triangles"), F.lit(0)))
            / (F.col("degree") * (F.col("degree") - F.lit(1))),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def triangle_support(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-EDGE triangle support: for every canonical edge (lo < hi), the
    number of triangles it participates in — the single-round core of
    k-truss peeling, and the standard bridge detector for near-dup graph
    denoising: an edge closing zero triangles is unsupported transitive
    evidence (a chain of borderline matches), while edges inside template-
    family cliques carry support ≈ clique size − 2.  Filtering on support
    BEFORE connected components stops the over-merge chains that min-label
    propagation would otherwise glue into giant clusters.

    Same oriented enumeration as ``triangle_stats`` (degree-ordered
    orientation, O(m^{3/2}) wedge bound — see its docstring); each
    triangle credits its three edges via one generator pass (the
    explode discipline from TRIANGLE_PROBE_r11), re-canonicalized to
    (lo, hi) because the stream is rank-ordered, then one groupBy.

    Returns every canonical edge with its support, INCLUDING support-0
    edges (left join — the denoiser must see the bridges to drop them):
    (lo, hi, support).
    """
    e, _deg, tri = _oriented_triangle_stream(edges, src_col, dst_col)
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                F.struct(F.col("a").alias("x"), F.col("c").alias("y")),
                F.struct(F.col("b").alias("x"), F.col("c").alias("y")),
            )
        ).alias("te")
    ).select(
        F.least("te.x", "te.y").alias("lo"),
        F.greatest("te.x", "te.y").alias("hi"),
    )
    sup = tri_edges.groupBy("lo", "hi").agg(F.count(F.lit(1)).alias("support"))
    return e.join(sup, ["lo", "hi"], "left").select(
        "lo",
        "hi",
        F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"),
    )


def truss_peel(
    edges: DataFrame,
    n_rounds: int,
    k: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-truss peeling (Cohen 2008): ``n_rounds`` times, delete every edge
    closing fewer than k−2 triangles — at fixpoint, the maximal subgraph
    where each edge is embedded in at least k−2 triangles.  The graded
    version of ``triangle_support``'s one-shot bridge filter: peeling
    re-measures support on the SURVIVORS, so a chain of weakly-supported
    cliques unravels even when every edge individually clears the bar on
    the raw graph.

    Fixed rounds (the ``pagerank_fixed`` pattern) make the result a pure
    function of (edge set, k, n_rounds) with a statically unrollable SQL
    twin — the registry row runs 3 rounds, converged on its graph, and
    stays deterministic at any scale whether or not 3 rounds converge
    there.  Each round is one oriented triangle enumeration (O(m^{3/2})
    wedges, see ``triangle_stats``) over a monotonically shrinking edge
    set; rounds past the fixpoint are no-ops.  Rounds are checkpointed by
    ``RoundCheckpointer``, whose local mode resets each round's size
    estimate: a raw ``localCheckpoint`` carries the multiplied estimate
    into the next round, and by round ~14 stats estimation alone stalls
    the driver.

    Returns the surviving canonical edges with support measured ON the
    surviving set: (lo, hi, support) — a support may still sit below k−2
    if the graph needed more rounds, which is readable from the output
    rather than papered over.
    """
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3 (every edge is a 2-truss); got {k}")
    chk = RoundCheckpointer(edges.sparkSession, prefix="truss-peel")
    e = materialize(
        edges.select(F.col(src_col).alias("x"), F.col(dst_col).alias("y"))
        .filter("x <> y")
        .select(F.least("x", "y").alias("lo"), F.greatest("x", "y").alias("hi"))
        .distinct()
    )
    for _ in range(n_rounds):
        e = chk(
            triangle_support(e, src_col="lo", dst_col="hi")
            .filter(F.col("support") >= k - 2)
            .select("lo", "hi")
        )
    chk.cleanup_stale(returning=e)
    return triangle_support(e, src_col="lo", dst_col="hi")


def sssp_fixed(
    edges: DataFrame,
    sources: DataFrame,
    n_rounds: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Hop-bounded cheapest distance from ``sources`` (one ``node``
    column) by ``n_rounds`` Bellman-Ford min-plus relaxations: after
    round R, ``dist(v)`` is the exact minimum weight over all paths of
    ≤ R edges — the fixed-round member of the family (``pagerank_fixed``,
    ``truss_peel``), so with INTEGRAL weights the result is a pure
    function of (edges, sources, n_rounds) and carries a bit-exact
    unrolled SQL twin.  Semantics are stated as hop-bounded rather than
    "converged": a weighted shortest path can use more hops than the
    unweighted diameter (three w=1 hops beat one w=10 edge), so callers
    choose R for the path depth they mean; rounds past the true shortest-
    path depth are exact no-ops (min-plus is monotone), changing nothing
    but wall time.

    Per round — the PageRank shuffle shape: ONE frontier⋈edges equi-join
    emitting (dst, dist+w) candidates, then a MIN carry that is
    union+groupBy on floor-sized/reliable graphs and a candidate-only
    aggregation merged into the carried distances by full-outer
    ``least()`` join above the local pin gate (bit-equal by min-plus
    algebra; the merge keeps the aggregation exchange to the candidate
    side — see the in-loop comment); lineage truncates per round via
    RoundCheckpointer, and the static edge list is pinned to its
    join key past the BFS gate so big graphs exchange only the O(|V|)
    distance side per round.

    Unreached nodes have NO row (sparse frontier — the 100 TB form;
    total rows ≤ reachable set, never |V|×rounds).  Returns
    (node, dist: long).
    """
    if not isinstance(
        edges.schema[weight_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        raise TypeError(
            "sssp_fixed needs integral edge weights (min-plus must be "
            f"engine-exact for the unrolled oracle); got "
            f"{edges.schema[weight_col]} — scale fixed-point weights to "
            "integers first (the pagerank_fixed doctrine)"
        )
    chk = RoundCheckpointer(edges.sparkSession, prefix="sssp-fixed")
    edges_frame = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    ).distinct()
    # the bfs_min_hops pin, gated per mode by the checkpointer: in
    # reliable mode past the distance-side broadcast flip, where the
    # un-pinned relaxation join re-exchanges the whole edge static every
    # round (−48% per-invocation shuffle at 2e8/3e8 Zipf edges)
    e = chk.static(edges_frame, "edges", pin_key="src")
    pinned = e.is_cached
    d = chk(
        sources.select("node").distinct().withColumn(
            "dist", F.lit(0).cast("long")
        )
    )
    # r12 optimization round (guide §2.4 — remove jobs outright), the
    # stride-2 fold pagerank_fixed already runs, GATED to the job-floor
    # regime: on local-mode graphs below the pin threshold, checkpoint
    # every SECOND round (and the last).  Unlike pagerank's ranks, ``d``
    # has TWO consumers per round (the relaxation join and the union
    # carry), so an un-checkpointed round's MIN aggregate is read twice by
    # the next round's plan — measured DETERMINISTIC (shuffle bytes
    # constant across reps; exchange reuse shares the aggregate's
    # exchange) but not free at scale: per-invocation shuffle 28.6→32.6 MB
    # at 1e6 Zipf edges, 495→578 MB (+17%) at 1e7, while executions drop
    # 12→8 (OPT_ATTR_r12.txt).  Below the pin gate the per-JOB floor
    # dominates (registry row: 12→9 executions, −11% wall, results
    # bit-equal); above it — and in RELIABLE mode, where each round's
    # parquet slot is the executor-loss recovery contract — the +17%
    # per-round shuffle is the scaling cost, so every round checkpoints
    # exactly as before (plans unchanged above the gate).
    stride2 = chk.run_dir is None and not pinned
    # r12 (second pass over the round's "not yet optimized" #2 — guide
    # §2.3, shuffle fewer bytes): ABOVE the pin gate the union+groupBy
    # carry re-ships the whole distance frame through the MIN aggregation
    # exchange every round on top of the O(|V|) join exchange.  A
    # full-outer min-MERGE (aggregate the candidates alone, then
    # d ⟗ cand_agg with least()) keeps the aggregation exchange to the
    # candidate side only — measured DETERMINISTIC −4% per-invocation
    # shuffle at 1e7 Zipf edges (495.4 → 475.8 MB; 28.6 → 28.4 MB at 1e6)
    # at equal execution count, results bit-equal at both tiers, walls
    # neutral-to-better (OPT_ATTR_r12.txt addendum).  The shape is gated
    # to the pinned LOCAL regime: below the gate broadcast joins are free
    # and stride-2 already owns the job floor (plans there unchanged), and
    # in RELIABLE mode the parquet statics let AQE broadcast the distance
    # side — a full-outer join cannot be broadcast at all (no BHJ support)
    # so the merge would force a sort-merge join where today no join
    # exists.  Two shuffle-neutral stride-2 shapes for this regime were
    # measured and REJECTED in the same addendum: an explicit
    # repartition(P, "node") carry is byte-IDENTICAL to plain stride-2
    # (+17% at 1e7 — the skipped round's re-exchange just moves), and
    # merge+stride-2 still pays +13%.
    merge = chk.run_dir is None and pinned
    for it in range(n_rounds):
        cand = d.join(e, d["node"] == e["src"]).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        if merge:
            cand_agg = cand.groupBy("node").agg(F.min("dist").alias("cd"))
            new = d.join(cand_agg, "node", "full").select(
                "node", F.least(F.col("dist"), F.col("cd")).alias("dist")
            )
        else:
            new = d.unionByName(cand).groupBy("node").agg(
                F.min("dist").alias("dist")
            )
        if not stride2 or it % 2 == 1 or it == n_rounds - 1:
            new = chk(new)
        d = new
    chk.cleanup_stale(returning=d)
    return d

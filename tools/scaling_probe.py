"""Measured scaling evidence for the dedup kit: run MinHash/LSH near-dup
and connected-components over K× replicas of the sf0.1 documents corpus
and report wall time + result counts per scale.

Replica construction keeps the workload honest: each replica interleaves
its replica tag between every pair of words, so (a) per-doc shingle work
is identical at every scale, (b) within-replica near-dup structure is
preserved (pairs scale exactly K×), and (c) cross-replica Jaccard is 0 —
corpus size grows K× without quadratic pair inflation.  A near-linear
wall-time slope is the evidence that candidate generation is evidence-
bounded (equi-joins on shared bands), not all-pairs: an O(n²) stage would
show a ~100× step from K=1 to K=10.

Usage: python tools/scaling_probe.py [K ...]            (default 1 5 10)
       python tools/scaling_probe.py --vectors [K ...]  (embedding kit)
       python tools/scaling_probe.py --bloom [N ...]    (distributed Bloom
           build at N distinct keys; default 1e6 3e6 1e7)
       python tools/scaling_probe.py --graph [K ...]    (frontier BFS +
           fixed-point PageRank over K× disjoint graph replicas)
       python tools/scaling_probe.py --winnow [K ...]   (winnowing
           fingerprints + capped pair join over K× replicas)
       python tools/scaling_probe.py --powerlaw [E ...] (pagerank/BFS/
           components label-prop on synthesized Zipf-endpoint graphs at
           E edges, BOTH checkpoint modes, wall + measured shuffle;
           default 1e5 1e6 1e7)
       python tools/scaling_probe.py --sssp [E ...]     (fixed-round
           Bellman-Ford on Zipf graphs: wall + true shuffle per round,
           local==reliable checksum pin; default 1e5 1e6 1e7)
       python tools/scaling_probe.py --triangles [E ...] (exact triangle
           counts on Zipf graphs at E edges: degree-ordered orientation
           vs the id-ordered wedge blowup, analytic wedge totals + an
           equal-count pin; default 1e5 1e6 4e6)
       python tools/scaling_probe.py --skewjoin [R ...] (hot-key join at
           R fact rows, 30% on one key: AQE skew split vs disabled vs
           manual targeted salting, equal-output checksums; default 16e6)
       python tools/scaling_probe.py --ann [K ...]      (IVF train + SQ8
           index build once + serve at nprobe 2/4 + recall-vs-brute at
           K× shifted embedding replicas; default 1 8 32)
       python tools/scaling_probe.py --text [K ...]     (BM25 top-15 at K×
           corpus with a constant matched-posting set; default 1 5 10)
       python tools/scaling_probe.py --etl [N ...]      (SCD2 dim churn +
           as-of fact lookup at N natural keys, 1%/10% daily change;
           invariants pinned on the largest tier; default 1e5 1e6 1e7)
       python tools/scaling_probe.py --etl-e2e [N ...]  (run_daily_etl
           COMPOSED end-to-end: two consecutive days at an N-key
           dimension with 10% churn; SCD2+fact invariants on the
           composed result; default 1e7)

``--vectors`` probes the vector kit instead: SRP hyperplane-LSH signature
generation and the PCA moments pass over K× replicas of the embeddings
corpus.  Each replica circular-shifts the vector by its replica index —
norms and within-replica geometry are preserved while cross-replica
cosine drops to the corpus's background level, so signature buckets do
not artificially collide across replicas (identical copies would make
every replica of a vector pair with every other — an O(K²) pathology the
probe must not manufacture).  The expected evidence: both stages scale
near-linearly (SRP is corpus×T·B decimal aggregation + equi-join;
moments is one constant-state pass).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_cloud_logistics_spark.catalog import load_table  # noqa: E402
from etl_cloud_logistics_spark.metrics import ExecutionMeter  # noqa: E402
from etl_cloud_logistics_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_neardup,
    neardup_components,
)
from etl_cloud_logistics_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@contextlib.contextmanager
def _checkpoint_mode(spark, mode: str):
    """Run a block in the session's ``local`` checkpoint mode, or in
    ``reliable`` mode under a fresh session checkpoint directory that is
    removed afterwards (the switch operators/checkpointing.py reads)."""
    if mode == "local":
        yield
        return
    chk = tempfile.mkdtemp(prefix="probechk-")
    spark.sparkContext.setCheckpointDir(chk)
    try:
        yield
    finally:
        spark.sparkContext._jsc.sc().setCheckpointDir(None)  # back to local
        shutil.rmtree(chk, ignore_errors=True)


def replicated_corpus(spark, k: int):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    ws = F.split(F.lower("text"), " ")
    parts = []
    for r in range(k):
        tagged = F.concat_ws(
            " ", F.flatten(F.transform(ws, lambda w: F.array(w, F.lit(f"r{r}"))))
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
                tagged.alias("text"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # materialize the corpus so generation cost is excluded from timings
    # and every K presents the same multi-partition layout
    return out.repartition(spark.sparkContext.defaultParallelism).localCheckpoint(
        eager=True
    )


def replicated_embeddings(spark, k: int):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    if k > 64:
        # shift wraps at the dimensionality: replica 64 would be
        # byte-identical to replica 0, manufacturing exactly the
        # cross-replica collision pathology the probe must not create
        raise ValueError("vector probe supports at most 64 replicas (one distinct shift each)")
    parts = []
    for r in range(k):
        shift = r % 64
        if shift == 0:
            shifted = F.col("embedding")
        else:
            shifted = F.concat(
                F.slice("embedding", shift + 1, 64 - shift),
                F.slice("embedding", 1, shift),
            )
        parts.append(
            emb.select(
                (F.col("vec_id") + r * 1_000_000).alias("vec_id"),
                shifted.alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(spark.sparkContext.defaultParallelism).localCheckpoint(
        eager=True
    )


def vector_probe(ks: list[int]) -> None:
    from etl_cloud_logistics_spark.operators.embedding_stats import (
        gram_partials,
        moments_from_partials,
    )
    from etl_cloud_logistics_spark.operators.similarity import srp_signatures

    spark = get_spark("scaling-probe-vec")
    warm = replicated_embeddings(spark, 1)
    srp_signatures(warm).write.mode("overwrite").format("noop").save()
    moments_from_partials(gram_partials(warm, "embedding", 64), 64)
    print(f"vector scale probe over {SF_DIR} (embeddings replicated K×, shifted)")
    print(f"{'K':>3} {'vecs':>7} {'srp_sec':>8} {'sigs':>8} {'pca_sec':>8}")
    for k in ks:
        corpus = replicated_embeddings(spark, k)
        n_vecs = corpus.count()
        t0 = time.perf_counter()
        n_sigs = srp_signatures(corpus).count()
        srp_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        moments_from_partials(gram_partials(corpus, "embedding", 64), 64)
        pca_sec = time.perf_counter() - t0
        print(f"{k:>3} {n_vecs:>7} {srp_sec:>8.2f} {n_sigs:>8} {pca_sec:>8.2f}")
        spark.catalog.clearCache()


def replicated_documents_full(spark, k: int):
    """Like :func:`replicated_corpus` but keeps lang/source and tags by
    SUFFIXING every word with the replica id instead of interleaving filler
    tokens.  A per-word suffix is a bijection on the vocabulary, so word
    counts and distinct-trigram counts are IDENTICAL to the base corpus in
    every replica (the interleaved-tag construction doubles token counts)."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    ws = F.split(F.lower("text"), " ")
    parts = []
    for r in range(k):
        tagged = F.concat_ws(
            " ", F.transform(ws, lambda w: F.concat(w, F.lit(f"_r{r}")))
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + r * 1_000_000).alias("doc_id"),
                tagged.alias("text"),
                "lang",
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(spark.sparkContext.defaultParallelism).localCheckpoint(
        eager=True
    )


def bloom_probe(n_keys_list: list[int]) -> None:
    """Wall-time slope of the DISTRIBUTED Bloom build at ≥10⁶ distinct
    keys (r5 verdict item 3: the old build collected one Row per key and
    set bits in Python — this probe is the evidence the r6 build's driver
    traffic is bounded by FILTER size, not key count).  Expect ~linear
    build time in n_keys (one hash projection + word-grouped bit_or) and
    a words/filter ratio near the dense-filter bound."""
    from etl_cloud_logistics_spark.operators.bloom import build_bloom

    spark = get_spark("scaling-probe-bloom")
    # warm-up: compile the plan shape once
    build_bloom(spark.range(10_000).toDF("k"), "k")
    print("distributed Bloom build probe (synthetic distinct keys)")
    print(f"{'n_keys':>10} {'wall_sec':>9} {'m_bits':>12} {'words_kb':>9}")
    for n in n_keys_list:
        keys = spark.range(n).toDF("k")
        t0 = time.perf_counter()
        model = build_bloom(keys, "k")
        wall = time.perf_counter() - t0
        print(
            f"{n:>10} {wall:>9.2f} {model.m_bits:>12} "
            f"{model.bits.nbytes / 1024:>9.1f}"
        )


def graph_probe(ks: list[int]) -> None:
    """Scaling slope of the graph kit after the r6 BFS de-fuse: run
    frontier-dedup BFS and fixed-point PageRank over K disjoint replicas
    of the sf co-purchase graph (edge endpoints offset per replica, so
    |V| and |E| scale exactly K× with no cross-replica edges).  BFS from
    one seed touches ONE replica regardless of K — its cost should be
    ~flat in K (frontier-bounded, the property the recursive-CTE walk
    enumeration lacked); PageRank touches all replicas — ~linear.  A BFS
    slope rising with K would mean per-level work scales with the GRAPH,
    not the frontier — the bug class this probe exists to catch."""
    from etl_cloud_logistics_spark.operators.cooccurrence import (
        frequent_item_pairs,
    )
    from etl_cloud_logistics_spark.operators.graph import (
        bfs_min_hops,
        pagerank_fixed,
    )

    spark = get_spark("scaling-probe-graph")
    li = load_table(spark, SF_DIR, "lineitem")
    pairs = (
        frequent_item_pairs(li, "l_orderkey", "l_partkey", minsup=3)
        .select("item_a", "item_b")
        .localCheckpoint(eager=True)
    )
    base_edges = pairs.select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    ).union(
        pairs.select(F.col("item_b").alias("src"), F.col("item_a").alias("dst"))
    )
    offset = (
        base_edges.agg(F.max(F.greatest("src", "dst"))).first()[0] or 0
    ) + 1
    # warm the loop plan shapes once
    seeds0 = base_edges.agg(F.min("src").alias("node"))
    bfs_min_hops(base_edges, seeds0, max_hops=4).write.mode("overwrite").format(
        "noop"
    ).save()
    print(f"graph probe over {SF_DIR} (edge list replicated K× disjointly)")
    print(f"{'K':>3} {'edges':>9} {'bfs_sec':>8} {'bfs_rows':>9} {'pr_sec':>7}")
    for k in ks:
        reps = [
            base_edges.select(
                (F.col("src") + F.lit(r * offset)).alias("src"),
                (F.col("dst") + F.lit(r * offset)).alias("dst"),
            )
            for r in range(k)
        ]
        edges = reps[0]
        for p in reps[1:]:
            edges = edges.unionByName(p)
        edges = edges.repartition(
            spark.sparkContext.defaultParallelism
        ).localCheckpoint(eager=True)
        n_edges = edges.count()
        seeds = edges.agg(F.min("src").alias("node"))
        t0 = time.perf_counter()
        bfs_rows = bfs_min_hops(edges, seeds, max_hops=4).count()
        bfs_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        pagerank_fixed(edges, n_iter=6).write.mode("overwrite").format(
            "noop"
        ).save()
        pr_sec = time.perf_counter() - t0
        print(
            f"{k:>3} {n_edges:>9} {bfs_sec:>8.2f} {bfs_rows:>9} {pr_sec:>7.2f}"
        )
        spark.catalog.clearCache()


def _powerlaw_edges(spark, n_edges: int):
    """Deterministic Zipf-endpoint edge list (no RNG): both endpoints of
    edge i are ``floor(exp(u · ln N))`` with u an md5-derived uniform of i
    — endpoint probability p(id) ∝ 1/id, N = E/10 nodes.  Shared by the
    --powerlaw and --triangles probes (same hub-skew shape, so their
    records are cross-readable)."""
    import math

    n_nodes = max(n_edges // 10, 1000)
    ln_n = math.log(n_nodes)

    def zipf(tag: str):
        h = F.substring(
            F.md5(F.concat(F.lit(tag), F.col("i").cast("string"))), 1, 8
        )
        u = (F.conv(h, 16, 10).cast("double") + 0.5) / 4294967296.0
        return F.floor(F.exp(u * F.lit(ln_n))).cast("long")

    return (
        spark.range(n_edges)
        .toDF("i")
        .select(zipf("s:").alias("src"), zipf("d:").alias("dst"))
        .filter("src <> dst")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )


def powerlaw_probe(es: list[int]) -> None:
    """Graph family under REAL graph load (r8, VERDICT r7 item 1): the
    registry's co-purchase graph mines to 2 frequent pairs at sf0.1, so
    the iterative operators had only ever run at Spark's scheduling floor.
    This probe synthesizes power-law edge lists at 1e5..1e7 edges —
    deterministically, no RNG: both endpoints of edge i are
    ``floor(exp(u * ln N))`` with u an md5-derived uniform of i, giving
    endpoint probability p(id) ∝ 1/id (Zipf) — heavy hubs, the skew shape
    real co-occurrence/link graphs have — with N = E/10 nodes.

    For each size it runs fixed-point PageRank (8 rounds, the registry
    configuration), hub-seeded frontier BFS, and connected-components
    label propagation, in BOTH lineage-truncation modes (localCheckpoint
    and reliable two-slot parquet), recording wall seconds and ACTUAL
    shuffle bytes from Spark's SQL metrics store.  The 100 TB evidence
    sought: per-round PageRank shuffle grows ~O(E) (column pr_MB/rnd),
    BFS shuffle is frontier/edge-bounded, not walk-enumeration-bounded,
    and no super-linear wall blowup appears across 1e5 -> 1e7."""
    from etl_cloud_logistics_spark.operators.dedup import (  # noqa: PLC0415
        neardup_components,
    )
    from etl_cloud_logistics_spark.operators.graph import (  # noqa: PLC0415
        bfs_min_hops,
        pagerank_fixed,
    )

    spark = get_spark("scaling-probe-powerlaw")

    def powerlaw_edges(n_edges: int):
        return _powerlaw_edges(spark, n_edges)

    N_ITER = 8  # the registry row's configuration
    MAX_HOPS = 4  # hub-seeded: the giant component is within ~3 hops

    def run_all(edges, seeds):
        rows = {}
        for op, fn in (
            (
                "pagerank",
                lambda: pagerank_fixed(edges, n_iter=N_ITER)
                .write.mode("overwrite")
                .format("noop")
                .save(),
            ),
            (
                "bfs",
                lambda: bfs_min_hops(edges, seeds, max_hops=MAX_HOPS)
                .write.mode("overwrite")
                .format("noop")
                .save(),
            ),
            (
                "components",
                lambda: neardup_components(
                    edges.select(
                        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
                    ),
                    edges.select(F.col("src").alias("doc_id"))
                    .unionByName(edges.select(F.col("dst").alias("doc_id")))
                    .distinct(),
                ).write.mode("overwrite").format("noop").save(),
            ),
        ):
            meter = ExecutionMeter(spark)
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            m = meter.read().metrics
            rows[op] = (wall, m.get("shuffle bytes written", 0.0) / 2**20)
            spark.catalog.clearCache()
        return rows

    # warm the plan shapes once at the smallest size
    warm = powerlaw_edges(10_000)
    seeds_w = warm.agg(F.min("src").alias("node"))
    run_all(warm, seeds_w)

    print(
        "power-law graph probe (endpoints ~ Zipf via md5-uniforms, "
        f"N = E/10, pagerank {N_ITER} rounds, bfs max_hops={MAX_HOPS})"
    )
    print(
        f"{'E':>9} {'mode':>8} {'pr_sec':>7} {'pr_MB':>8} {'pr_MB/rnd':>9} "
        f"{'bfs_sec':>8} {'bfs_MB':>8} {'cc_sec':>7} {'cc_MB':>8}"
    )
    for e in es:
        edges = powerlaw_edges(e)
        n_edges = edges.count()
        seeds = edges.agg(F.min("src").alias("node"))
        for mode in ("local", "reliable"):
            with _checkpoint_mode(spark, mode):
                r = run_all(edges, seeds)
            print(
                f"{n_edges:>9} {mode:>8} "
                f"{r['pagerank'][0]:>7.2f} {r['pagerank'][1]:>8.1f} "
                f"{r['pagerank'][1] / N_ITER:>9.1f} "
                f"{r['bfs'][0]:>8.2f} {r['bfs'][1]:>8.1f} "
                f"{r['components'][0]:>7.2f} {r['components'][1]:>8.1f}"
            )
        spark.catalog.clearCache()


def sssp_probe(es: list[int]) -> None:
    """Fixed-round Bellman-Ford under graph load (r11): sssp_fixed's
    per-round plan is the pagerank_fixed shape (frontier⋈pinned-static
    join + one MIN aggregation), so the expected evidence is the same —
    ~O(E)-bounded per-round shuffle, no super-linear wall blowup — now
    MEASURED rather than argued by shape.  Zipf graphs as --powerlaw,
    deterministic hash weights (w = 1 + hash(src,dst) mod 9), 8 rounds
    from the min-id node, both durability modes; the reached-count and
    min-plus checksum pin local == reliable (bit-exact independence from
    the checkpoint mechanism)."""
    from etl_cloud_logistics_spark.operators.graph import sssp_fixed  # noqa: PLC0415

    N_ROUNDS = 8
    spark = get_spark("scaling-probe-sssp")

    def weighted(edges):
        return edges.select(
            "src",
            "dst",
            (
                F.lit(1)
                + F.pmod(F.hash(F.col("src"), F.col("dst")), F.lit(9))
            ).cast("long").alias("w"),
        )

    def run(edges, seeds):
        meter = ExecutionMeter(spark)
        t0 = time.perf_counter()
        row = (
            sssp_fixed(edges, seeds, n_rounds=N_ROUNDS)
            .agg(
                F.count(F.lit(1)).alias("reached"),
                F.sum(F.col("dist") * F.col("dist")).alias("chk"),
            )
            .collect()[0]
        )
        wall = time.perf_counter() - t0
        mb = meter.read().metrics.get("shuffle bytes written", 0.0) / 2**20
        spark.catalog.clearCache()
        return wall, mb, int(row["reached"]), int(row["chk"])

    warm = weighted(_powerlaw_edges(spark, 10_000))
    run(warm, warm.agg(F.min("src").alias("node")))

    print(
        f"sssp probe (Zipf graphs, hash weights 1-9, {N_ROUNDS} fixed "
        "Bellman-Ford rounds from the min-id node)"
    )
    print(
        f"{'E':>9} {'mode':>8} {'wall_s':>7} {'MB':>8} {'MB/rnd':>7} "
        f"{'reached':>8}   local==reliable"
    )
    for e_raw in es:
        edges = weighted(_powerlaw_edges(spark, e_raw))
        n_edges = edges.count()
        seeds = edges.agg(F.min("src").alias("node"))
        results = {}
        for mode in ("local", "reliable"):
            with _checkpoint_mode(spark, mode):
                wall, mb, reached, chksum = run(edges, seeds)
            results[mode] = (reached, chksum)
            pin = (
                str(results["local"] == results["reliable"])
                if mode == "reliable"
                else ""
            )
            print(
                f"{n_edges:>9} {mode:>8} {wall:>7.2f} {mb:>8.1f} "
                f"{mb / N_ROUNDS:>7.1f} {reached:>8}   {pin}"
            )
        assert results["local"] == results["reliable"], results


def triangle_probe(es: list[int]) -> None:
    """Triangle counting under hub skew (r11): the operator's 100 TB claim
    is degree-ordered orientation (Suri & Vassilvitskii's "curse of the
    last reducer") — wedges are generated by each edge's LOWER-ranked
    endpoint, capping wedge volume near O(m^{3/2}) where id-ordered
    orientation lets a hub emit deg² candidates.  On the same
    Zipf-endpoint graphs as --powerlaw, per tier:

    - compute BOTH orientations' wedge totals Σ od·(od−1)/2 and max
      out-degree analytically from their out-degree distributions (exact,
      no wedge join executed) — the blowup read directly;
    - run the full degree-ordered operator (wall + measured shuffle);
    - run an id-ordered twin inline ONLY where its computed wedge total
      is feasible (≤ WEDGE_CAP; above that the skip prints the computed
      wedge count — no silent cap) and pin its triangle total to the
      oriented run's: the two enumerations must agree exactly.
    """
    from etl_cloud_logistics_spark.operators.graph import (  # noqa: PLC0415
        triangle_stats,
    )

    WEDGE_CAP = 300_000_000

    spark = get_spark("scaling-probe-triangles")

    def canonical(edges):
        return (
            edges.filter("src <> dst")
            .select(
                F.least("src", "dst").alias("lo"),
                F.greatest("src", "dst").alias("hi"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )

    def wedge_stats(out_keys, key):
        """(Σ od·(od−1)/2, max od) of an orientation, from its out-key
        column alone — BIGINT arithmetic, one aggregation."""
        od = out_keys.groupBy(key).agg(F.count(F.lit(1)).alias("od"))
        row = od.agg(
            F.sum(
                (F.col("od") * (F.col("od") - F.lit(1))).cast("long") / F.lit(2)
            ).alias("w"),
            F.max("od").alias("m"),
        ).collect()[0]
        return int(row["w"] or 0), int(row["m"] or 0)

    def degree_out_keys(e):
        deg = (
            e.select(F.col("lo").alias("node"))
            .unionAll(e.select(F.col("hi").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        return (
            e.join(
                deg.select(F.col("node").alias("lo"), F.col("d").alias("dlo")),
                "lo",
            )
            .join(
                deg.select(F.col("node").alias("hi"), F.col("d").alias("dhi")),
                "hi",
            )
            .select(
                F.when(F.col("dlo") <= F.col("dhi"), F.col("lo"))
                .otherwise(F.col("hi"))
                .alias("u")
            )
        ), deg

    def run_id_oriented(e) -> int:
        # canonical lo < hi IS the id orientation: lo generates the wedge
        e1 = e.select(F.col("lo").alias("u"), F.col("hi").alias("b"))
        e2 = e.select(F.col("lo").alias("u"), F.col("hi").alias("c"))
        wedges = e1.join(e2, "u").where(F.col("b") < F.col("c"))
        closed = wedges.join(
            e.select(F.col("lo").alias("b"), F.col("hi").alias("c")),
            ["b", "c"],
        )
        return closed.count()

    # warm the plan shapes once at a small size
    warm = canonical(_powerlaw_edges(spark, 10_000))
    triangle_stats(warm, src_col="lo", dst_col="hi").agg(
        F.sum("triangles")
    ).collect()
    run_id_oriented(warm)

    print(
        "triangle probe (Zipf-endpoint graphs, N = E/10): degree-ordered "
        f"orientation vs id-ordered twin (twin runs when wedges <= {WEDGE_CAP:.0e})"
    )
    print(
        f"{'E_dist':>9} {'N':>8} {'max_deg':>8} {'wedg_deg':>10} {'od_deg':>7} "
        f"{'wedg_id':>11} {'od_id':>7} {'triangles':>10} {'deg_s':>7} "
        f"{'deg_MB':>7} {'id_s':>7}   pin"
    )
    for raw_e in es:
        e = canonical(_powerlaw_edges(spark, raw_e))
        n_edges = e.count()
        out_deg, deg = degree_out_keys(e)
        w_deg, od_deg = wedge_stats(out_deg, "u")
        w_id, od_id = wedge_stats(e.select(F.col("lo").alias("u")), "u")
        drow = deg.agg(
            F.count(F.lit(1)).alias("n"), F.max("d").alias("m")
        ).collect()[0]

        meter = ExecutionMeter(spark)
        t0 = time.perf_counter()
        srow = (
            triangle_stats(e, src_col="lo", dst_col="hi")
            .agg(F.sum("triangles").alias("t"))
            .collect()[0]
        )
        deg_s = time.perf_counter() - t0
        deg_mb = meter.read().metrics.get("shuffle bytes written", 0.0) / 2**20
        tri_total = int(srow["t"]) // 3

        if w_id <= WEDGE_CAP:
            t0 = time.perf_counter()
            tri_naive = run_id_oriented(e)
            id_s = f"{time.perf_counter() - t0:>7.2f}"
            pin = str(tri_naive == tri_total)
        else:
            id_s = "   skip"
            pin = "-"
        print(
            f"{n_edges:>9} {drow['n']:>8} {drow['m']:>8} {w_deg:>10} "
            f"{od_deg:>7} {w_id:>11} {od_id:>7} {tri_total:>10} "
            f"{deg_s:>7.2f} {deg_mb:>7.1f} {id_s}   {pin}"
        )
        spark.catalog.clearCache()


def winnow_probe(ks: list[int]) -> None:
    """Scaling slope of the winnowing fingerprint kit (promoted to the
    driver window in r8, never scale-probed before): word-4-gram hashing +
    window-5 min selection per doc, then the capped shared-fingerprint
    pair join, over K× word-suffix replicas of the sf corpus.  The suffix
    tagging is a vocabulary bijection, so every replica selects the SAME
    fingerprint positions as the base corpus (identical per-doc work) with
    disjoint fingerprint values across replicas — shared-fp pairs must
    scale exactly K×, and near-linear wall is the evidence the pair stage
    follows shared evidence, not corpus²."""
    from pyspark.sql import functions as F2

    from etl_cloud_logistics_spark.operators.dedup import winnow_fingerprints

    spark = get_spark("scaling-probe-winnow")

    def pair_count(corpus) -> tuple[int, int]:
        fps = winnow_fingerprints(corpus, k=4, w=5)
        kept = fps.groupBy("fp").agg(F2.count("*").alias("nf")).filter("nf <= 8")
        fpk = fps.join(kept.select("fp"), "fp")
        a = fpk.select(F2.col("doc_id").alias("doc_a"), "fp")
        b = fpk.select(F2.col("doc_id").alias("doc_b"), "fp")
        pairs = (
            a.join(b, "fp")
            .filter(F2.col("doc_a") < F2.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F2.count("*").alias("n_shared"))
        )
        return pairs.count()

    warm = replicated_documents_full(spark, 1)
    pair_count(warm)  # compile the plan shapes once
    print(f"winnowing probe over {SF_DIR} (word-suffix replicas, cap 8)")
    print(f"{'K':>3} {'docs':>7} {'wall_sec':>9} {'pairs':>8}")
    for k in ks:
        corpus = replicated_documents_full(spark, k)
        n_docs = corpus.count()
        t0 = time.perf_counter()
        n_pairs = pair_count(corpus)
        wall = time.perf_counter() - t0
        print(f"{k:>3} {n_docs:>7} {wall:>9.2f} {n_pairs:>8}")
        spark.catalog.clearCache()


def ann_probe(ks: list[int]) -> None:
    """End-to-end ANN scaling over the index lifecycle: train the IVF
    coarse quantizer, build + persist the SQ8 index ONCE per scale, then
    serve a fixed 20-query top-10 batch from it at nprobe 2 and 4 and
    measure recall against brute force at K× shifted replicas of the
    embeddings corpus.  The evidence sought for 100 TB: train cost grows
    ~linearly (Lloyd passes are narrow projections + one hash-agg each),
    serve stays an equi-join on the stored bucket id (shuffle
    ~O(N·nprobe/n_clusters), never O(Q·N) — the brute column IS the
    O(Q·N) baseline growing linearly with the corpus), and recall holds
    as the corpus and cluster count scale together (n_clusters ~ sqrt(N),
    the FAISS rule of thumb)."""
    from etl_cloud_logistics_spark.operators.similarity import (
        build_sq8_index,
        knn_bruteforce,
        knn_sq8_serve,
        recall_at_k,
        train_ivf_centroids,
        train_sq8_bounds,
    )

    spark = get_spark("scaling-probe-ann")
    queries = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 20)
    )
    # warm-up: compile every plan shape once at the smallest scale
    warm = replicated_embeddings(spark, 1)
    cents0 = train_ivf_centroids(warm, n_clusters=16, n_iter=1)
    lo0, hi0 = train_sq8_bounds(warm)
    knn_sq8_serve(
        build_sq8_index(warm, lo0, hi0, centroids=cents0),
        queries, warm, 10, lo0, hi0, centroids=cents0, nprobe=2,
    ).write.mode("overwrite").format("noop").save()
    print(
        f"ANN probe over {SF_DIR}: IVF train(5 Lloyd iters, "
        f"n_clusters~sqrt(N)) + SQ8 index build once + 20-query top-10 "
        f"serve from it vs brute; the shifted replicas are near-uniform "
        f"(ANN's hardest case — no cluster structure), so recall here is "
        f"the FLOOR the nprobe knob buys back"
    )
    print(
        f"{'K':>3} {'vecs':>7} {'n_cl':>5} {'train_sec':>9} "
        f"{'idx_sec':>8} {'serve2_sec':>10} {'recall@2':>8} "
        f"{'serve4_sec':>10} {'recall@4':>8} {'brute_sec':>9}"
    )
    for k in ks:
        corpus = replicated_embeddings(spark, k).persist()
        n = corpus.count()
        n_clusters = max(16, int(n ** 0.5 / 2))
        t0 = time.perf_counter()
        cents = train_ivf_centroids(corpus, n_clusters=n_clusters, n_iter=5)
        train_sec = time.perf_counter() - t0
        # persist: exact feeds two recall_at_k joins below — unpersisted,
        # each would re-run the full O(Q·N) cross-score (timed write first,
        # so brute_sec reports the real cost, not a cache read)
        exact = knn_bruteforce(queries, corpus, 10).persist()
        t0 = time.perf_counter()
        exact.write.mode("overwrite").format("noop").save()
        brute_sec = time.perf_counter() - t0
        # persist the bucket+codes index ONCE (idx_sec — INCLUDING the SQ8
        # bounds pass, which is part of the build, so the build-vs-serve
        # crossover is stated honestly), then serve every nprobe from it
        t0 = time.perf_counter()
        lo, hi = train_sq8_bounds(corpus)
        index = build_sq8_index(corpus, lo, hi, centroids=cents).persist()
        index.count()
        idx_sec = time.perf_counter() - t0
        cols = []
        for nprobe in (2, 4):
            served = knn_sq8_serve(
                index, queries, corpus, 10, lo, hi, centroids=cents, nprobe=nprobe
            )
            t0 = time.perf_counter()
            served.write.mode("overwrite").format("noop").save()
            serve_sec = time.perf_counter() - t0
            rec = (
                recall_at_k(served, exact)
                .agg(F.avg("recall").alias("r"))
                .collect()[0]["r"]
            )
            cols.append((serve_sec, rec))
        print(
            f"{k:>3} {n:>7} {n_clusters:>5} {train_sec:>9.2f} {idx_sec:>8.2f} "
            f"{cols[0][0]:>10.2f} {cols[0][1]:>8.3f} "
            f"{cols[1][0]:>10.2f} {cols[1][1]:>8.3f} {brute_sec:>9.2f}"
        )
        index.unpersist()
        exact.unpersist()
        corpus.unpersist()


def text_probe(ks: list[int]) -> None:
    """BM25 retrieval scaling over K× suffix-tagged corpus replicas.  The
    fixed query terms carry the base replica's ``_r0`` tag, so the matched
    posting set is CONSTANT while the corpus grows K× — the evidence
    sought is the shuffle column staying flat (query-term postings are
    pruned map-side BEFORE the tf exchange; a layout that shuffled the
    full token stream would grow it K×) while wall tracks only the narrow
    tokenize scan."""
    spark = get_spark("scaling-probe-text")
    terms = ["spark_r0", "vector_r0", "merge_r0", "stream_r0"]

    def bm25_top15(corpus):
        # the SAME definition the registry row executes (queries/text_ops
        # .bm25_topk) — the probe measures the shipped layout by construction
        from etl_cloud_logistics_spark.queries.text_ops import bm25_topk

        return bm25_topk(corpus, terms, k=15)

    warm = replicated_documents_full(spark, 1)
    bm25_top15(warm).write.mode("overwrite").format("noop").save()
    print(
        f"text retrieval probe over {SF_DIR}: BM25 top-15, 4 base-replica "
        f"query terms (matched postings constant, corpus grows K×)"
    )
    print(f"{'K':>3} {'docs':>7} {'wall_sec':>9} {'shuffleMB':>10} {'rows':>5}")
    for k in ks:
        corpus = replicated_documents_full(spark, k)
        n_docs = corpus.count()
        meter = ExecutionMeter(spark)
        t0 = time.perf_counter()
        rows = bm25_top15(corpus).collect()
        wall = time.perf_counter() - t0
        m = meter.read().metrics
        print(
            f"{k:>3} {n_docs:>7} {wall:>9.2f} "
            f"{m.get('shuffle bytes written', 0.0) / 2**20:>10.2f} "
            f"{len(rows):>5}"
        )


def skewjoin_probe(rows_list: list[int]) -> None:
    """Measured evidence for the HOT-KEY JOIN mitigations: a fact whose
    hottest key carries 30% of all rows, sort-merge-joined against a
    non-broadcastable build side, in three configurations —

      aqe_skew : engine defaults (spark.sql.adaptive.skewJoin.enabled=true,
                 as get_spark sets) — AQE splits the skewed partition into
                 advisory-sized chunks and replicates the matching build
                 rows per chunk;
      no_skew  : skewJoin disabled — the straggler task owns the whole hot
                 partition (the 1000-executor pathology: 999 idle, 1 busy);
      salted   : skewJoin disabled + MANUAL targeted salting (the pre-AQE
                 mitigation the engine would use where AQE can't reach,
                 e.g. aggregation upstream of the join): hot-key fact rows
                 spread over S salts, build rows for the hot key replicated
                 S× — same join result by construction.

    All three runs compute the same order-independent checksum
    (count + sum of a key/value hash), printed so equal output is pinned,
    not assumed.  The skewed partition at the default probe size is
    ~350 MB — past the 256 MB skewedPartitionThresholdInBytes default AND
    5× the ~25 MB median, i.e. the probe triggers AQE's UNTUNED production
    gates rather than lowering them to probe scale.  The 100 TB evidence
    sought: aqe_skew ≈ salted ≪ no_skew wall, with the executed plan's
    AQEShuffleRead reporting the skew split."""
    from pyspark.sql import functions as F2

    # Join-key domain.  Must be large enough that the build side's SIZE
    # ESTIMATE (range stats: ~8 B/row before the payload projection) stays
    # past the 64 MB autoBroadcastJoinThreshold, or the join planner
    # broadcasts it and there is no shuffle to skew.
    K_DOMAIN = 20_000_000
    SALTS = 8

    spark = get_spark("scaling-probe-skewjoin")

    def _entropy(col: str, n_hashes: int):
        # AQE's skew gate reads COMPRESSED shuffle-partition bytes; a
        # constant payload lz4-compresses ~100x and no partition ever
        # crosses the 256 MB threshold at probe scale.  Hash-hex chains
        # are incompressible, so on-disk bytes track logical bytes.
        return F2.concat(
            *[F2.hex(F2.xxhash64(col, F2.lit(i))) for i in range(n_hashes)]
        )

    def fact(rows: int):
        # 30% of rows on key 0, the rest ~uniform over the remaining domain;
        # ~90 bytes of incompressible payload per row
        return (
            spark.range(rows)
            .select(
                F2.when(F2.pmod("id", F2.lit(10)) < 3, F2.lit(0))
                .otherwise(
                    F2.pmod(F2.xxhash64("id"), F2.lit(K_DOMAIN - 1)) + 1
                )
                .alias("key"),
                F2.col("id").alias("fact_id"),
                _entropy("id", 6).alias("payload"),
            )
        )

    def build_side():
        return spark.range(K_DOMAIN).select(
            F2.col("id").alias("r_key"),
            (F2.col("id") * 2 + 1).alias("r_val"),
            _entropy("id", 2).alias("r_pad"),
        )

    def run_checksum(joined) -> tuple[float, int, int, str]:
        """Execute the count+bit_xor checksum over ``joined``; return
        (wall, n, h, final_plan).  SINGLE definition of the checksum so the
        three configs can never drift apart and compare unequal hashes of
        genuinely equal joins."""
        agg = joined.agg(
            F2.count("*").alias("n"),
            # bit_xor: order-independent and overflow-free (a SUM of 64-bit
            # hashes overflows long under ANSI mode).  The payload columns
            # MUST be referenced here or Catalyst's column pruning deletes
            # them before the exchange and the shuffled rows shrink to
            # 16 bytes — no partition ever reaches the skew gate.
            F2.bit_xor(
                F2.xxhash64("key", "r_val", "fact_id", "payload", "r_pad")
            ).alias("h"),
        )
        t0 = time.perf_counter()
        row = agg.collect()[0]
        wall = time.perf_counter() - t0
        # the AQE-final plan lives on the EXECUTED frame (reading it off the
        # un-executed join would show the pre-AQE plan, skew-split-free)
        plan = agg._jdf.queryExecution().executedPlan().toString()
        return wall, row["n"], row["h"], plan

    def run_plain(rows: int, skew_enabled: bool):
        # restore the PRE-OVERRIDE value, not a hardcoded "true": get_spark
        # sets true today, but a future non-default session config would be
        # silently flipped by a literal (ADVICE r9)
        prior = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
        try:
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.enabled", str(skew_enabled).lower()
            )
            f, b = fact(rows), build_side()
            wall, n, h, plan = run_checksum(f.join(b, f.key == b.r_key))
        finally:
            # restore even on OOM/interrupt: a leaked 'false' would silently
            # measure the no_skew config under the aqe_skew label on rerun
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prior)
        return wall, n, h, plan.count("skewed")

    def run_salted(rows: int):
        f = fact(rows).withColumn(
            "salt",
            F2.when(
                F2.col("key") == 0,
                F2.pmod(F2.xxhash64("fact_id", F2.lit(7)), F2.lit(SALTS)),
            ).otherwise(F2.lit(0)),
        )
        b = build_side()
        hot_replicas = (
            b.filter(F2.col("r_key") == 0)
            .crossJoin(
                spark.range(1, SALTS).select(F2.col("id").alias("salt"))
            )
        )
        b_salted = b.withColumn("salt", F2.lit(0).cast("long")).unionByName(
            hot_replicas.select("r_key", "r_val", "r_pad", "salt")
        )
        joined = f.join(
            b_salted, (f.key == b_salted.r_key) & (f.salt == b_salted.salt)
        )
        prior = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
        try:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            wall, n, h, _plan = run_checksum(joined)
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prior)
        return wall, n, h

    # compile/JIT warm-up at a small size so the first timed row isn't
    # paying codegen
    run_plain(200_000, True)
    print(
        f"hot-key join probe: 30% of fact rows on one key, build side "
        f"{K_DOMAIN} keys (non-broadcastable), salted S={SALTS}"
    )
    print(
        f"{'rows':>10} {'config':>9} {'wall_med3':>9} {'out_rows':>10} "
        f"{'skew_marks':>10} {'checksum_ok':>11}"
    )
    import statistics  # noqa: PLC0415

    REPS = 3  # single draws are scheduling-noise-dominated below ~5e7 rows
    # (an early record's 16e6 tier inverted aqe vs salted across draws);
    # the medians make every tier's ordering meaningful, and the checksum
    # must hold on EVERY rep, not just one
    for rows in rows_list:
        ref_h = None
        for config in ("aqe_skew", "no_skew", "salted"):
            walls, marks = [], 0
            for _ in range(REPS):
                if config == "salted":
                    wall, n, h = run_salted(rows)
                else:
                    wall, n, h, marks = run_plain(rows, config == "aqe_skew")
                walls.append(wall)
                if ref_h is None:
                    ref_h = (n, h)
                if (n, h) != ref_h:
                    break
            ok = (n, h) == ref_h
            print(
                f"{rows:>10} {config:>9} {statistics.median(walls):>9.2f} "
                f"{n:>10} {marks:>10} {str(ok):>11}"
            )




def etl_probe(ns: list[int]) -> None:
    """SCD2 dim churn + as-of fact lookup at scale (r10, VERDICT r9 #4):
    every other 100 TB claim has a measured slope; ``scd2_apply`` and the
    daily-ETL fact build's as-of lookup rested on plan reading alone.

    Per natural-key tier N (default 1e5/1e6/1e7) and daily change rate
    (1% and 10%):

    - build a current dimension of N keys (2 tracked attrs, open
      versions) and a staging extract with the churn fraction changed
      plus 1% brand-new keys, then time ``scd2_apply`` (noop sink) and
      record its measured shuffle.  The expected slope is ~linear in N:
      the classify step is ONE full-outer hash join on the natural key
      and the rewrite is a union of narrow projections.
    - run the as-of fact lookup (4 facts per key, timestamps straddling
      the version boundary so every match arm is exercised): Catalyst/AQE
      picks the join, so large dims get a sort-merge join that shuffles
      once on the key with the validity range as residual.  The executed
      join strategy is read from the AQE-final plan.

    The largest tier then gets a SECOND merge day (a later effective
    date over partially-overlapping churn) and the SCD2 invariants are
    asserted on the result at full scale, not just in the sf-scale
    pytest: exactly one is_current row per key, every closed row's
    valid_to equals its successor's valid_from, and version counts
    reconcile with the churn arithmetic.
    """
    from etl_cloud_logistics_spark.operators.scd2 import (  # noqa: PLC0415
        scd2_apply,
        scd2_asof_lookup,
    )

    spark = get_spark("scaling-probe-etl")

    def make_dim(n: int):
        return (
            spark.range(n)
            .select(
                F.col("id").alias("k"),
                F.concat(F.lit("name_"), F.col("id")).alias("name"),
                (F.col("id") % 1000).cast("double").alias("score"),
                F.lit("2020-01-01").cast("date").alias("valid_from"),
                F.lit(None).cast("date").alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
            .localCheckpoint(eager=True)
        )

    def make_staging(n: int, pct: int, salt: int = 0):
        changed = spark.range(n).filter((F.col("id") + salt) % 100 < pct).select(
            F.col("id").alias("k"),
            F.concat(F.lit("name_"), F.col("id")).alias("name"),
            ((F.col("id") % 1000) + 1.0 + salt).alias("score"),
        )
        brand_new = spark.range(n + salt * (n // 100), n + (salt + 1) * (n // 100)).select(
            F.col("id").alias("k"),
            F.concat(F.lit("name_"), F.col("id")).alias("name"),
            F.lit(-1.0).alias("score"),
        )
        return changed.unionByName(brand_new).localCheckpoint(eager=True)

    def make_facts(n: int):
        # 4 facts per key; dates spread 2019-2025 so the as-of match hits
        # every arm: pre-history (no version), v1 window, v2/open window
        return (
            spark.range(4 * n)
            .select(
                (F.col("id") % n).alias("k"),
                F.date_add(
                    F.lit("2019-01-01").cast("date"), (F.col("id") % 2557).cast("int")
                ).alias("order_ts"),
                (F.col("id") % 97).cast("double").alias("amount"),
            )
            .localCheckpoint(eager=True)
        )

    def asof_checksum(joined):
        agg = joined.agg(
            F.count("*").alias("n"),
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|",
                        F.col("k").cast("string"),
                        F.coalesce(F.col("valid_from").cast("string"), F.lit("-")),
                        F.col("amount").cast("string"),
                    )
                )
            ).alias("h"),
        )
        t0 = time.perf_counter()
        row = agg.collect()[0]
        wall = time.perf_counter() - t0
        plan = agg._jdf.queryExecution().executedPlan().toString()
        if "BroadcastHashJoin" in plan:
            strategy = "BHJ"
        elif "SortMergeJoin" in plan:
            strategy = "SMJ"
        elif "ShuffledHashJoin" in plan:
            strategy = "SHJ"
        else:
            strategy = "?"
        return wall, row["n"], row["h"], strategy

    # warm the plan shapes at a small tier so tier 1 isn't paying codegen
    wdim, wstg = make_dim(10_000), make_staging(10_000, 5)
    scd2_apply(wdim, wstg, ["k"], ["name", "score"], "2024-01-01").write.mode(
        "overwrite"
    ).format("noop").save()
    wfacts = make_facts(10_000)
    asof_checksum(scd2_asof_lookup(wdim, wfacts, ["k"], "order_ts"))
    spark.catalog.clearCache()

    print(
        "SCD2 + as-of ETL probe: N natural keys, churn% changed + 1% new; "
        f"facts = 4N rows straddling the version boundary "
        f"(load1={os.getloadavg()[0]:.2f})"
    )
    print(
        f"{'keys':>9} {'churn%':>6} {'merge_sec':>9} {'merge_MB':>8} "
        f"{'dim_rows':>9} {'asof_sec':>8} {'asof_join':>9} {'asof_rows':>9}"
    )
    largest = max(ns)
    for n in ns:
        for pct in (1, 10):
            dim = make_dim(n)
            stg = make_staging(n, pct)
            meter = ExecutionMeter(spark)
            t0 = time.perf_counter()
            merged = scd2_apply(dim, stg, ["k"], ["name", "score"], "2024-01-01")
            merged.write.mode("overwrite").format("noop").save()
            merge_wall = time.perf_counter() - t0
            mb = meter.read().metrics.get("shuffle bytes written", 0.0) / 2**20
            dim2 = merged.localCheckpoint(eager=True)
            dim_rows = dim2.count()
            facts = make_facts(n)
            w_a, n_a, _h, strat = asof_checksum(
                scd2_asof_lookup(dim2, facts, ["k"], "order_ts")
            )
            print(
                f"{n:>9} {pct:>6} {merge_wall:>9.2f} {mb:>8.1f} {dim_rows:>9} "
                f"{w_a:>8.2f} {strat:>9} {n_a:>9}"
            )
            if n == largest and pct == 10:
                # second merge day over partially-overlapping churn, then
                # the SCD2 invariants at full scale
                stg2 = make_staging(n, pct, salt=5)
                final = scd2_apply(
                    dim2, stg2, ["k"], ["name", "score"], "2024-06-01"
                ).localCheckpoint(eager=True)
                dup_current = (
                    final.filter("is_current")
                    .groupBy("k")
                    .count()
                    .filter("count > 1")
                    .count()
                )
                closed = final.filter("NOT is_current AND valid_to IS NOT NULL")
                succ = final.select(
                    F.col("k").alias("k2"),
                    F.col("valid_from").alias("succ_from"),
                )
                broken_chain = (
                    closed.join(
                        succ,
                        (closed.k == succ.k2) & (closed.valid_to == succ.succ_from),
                        "left_anti",
                    ).count()
                )
                n_current = final.filter("is_current").count()
                n_keys = final.select("k").distinct().count()
                print(
                    f"  invariants@{n}: dup_current={dup_current} "
                    f"broken_chains={broken_chain} current={n_current} "
                    f"keys={n_keys} total_rows={final.count()}"
                )
                assert dup_current == 0 and broken_chain == 0
                assert n_current == n_keys
            spark.catalog.clearCache()


def etl_e2e_probe(ns: list[int]) -> None:
    """COMPOSED daily-ETL probe (r11, VERDICT r10 #5): ``run_daily_etl``
    end-to-end at the 1e7-dimension tier — the reference's whole daily
    program (extract → JSON staging → dim_date anti-join → dual SCD2
    merges → fact build with the as-of lookup → DQ gate → dual report
    refresh; etl_pipeline.py:1176-1279) as ONE composition, where
    ``--etl`` measured ``scd2_apply`` and the as-of lookup in isolation.

    Per tier N: day 1 lands N orders touching N distinct customers (the
    dimension reaches N keys through the REAL pipeline path, not a
    synthetic dim), then day 2 lands N/10 orders over N/10 existing
    customers whose source attributes churned (every staged existing key
    closes + re-versions) plus N/1000 brand-new keys.  Two synthetic
    sf_dirs are used (one per day) because the day-2 extract must see a
    CHANGED customer source; each carries the full declared schemas so
    the probe goes through ``load_table``'s validation gate like
    production.  Records wall + measured shuffle per day and asserts the
    SCD2 + fact invariants at full scale on the composed result:
    exactly one current row per key, closed rows chain to their
    successor, total/current row counts reconcile with the churn
    arithmetic, and the day slice of the fact equals the day's extract.
    """
    from etl_cloud_logistics_spark.pipelines import run_daily_etl  # noqa: PLC0415

    spark = get_spark("scaling-probe-etl-e2e")

    def write_inputs(path: str, n: int, day: int) -> tuple[int, int]:
        """Lay down orders/customer/supplier/lineitem for one day's dir.
        Returns (n_day_orders, n_new_keys)."""
        n_supp = max(n // 100, 10)
        if day == 1:
            n_orders, new_keys = n, 0
            okey = F.col("id")
            ckey = F.col("id")
            date = "2024-06-01"
        else:
            n_orders, new_keys = n // 10, n // 1000
            okey = F.col("id") + n
            # first (n_orders - new_keys) rows hit churned existing keys
            # (multiples of 10, all distinct); the tail references keys
            # beyond the day-1 range (brand-new dimension members)
            ckey = F.when(
                F.col("id") < n_orders - new_keys, (F.col("id") * 10) % n
            ).otherwise(n + F.col("id") - (n_orders - new_keys))
            date = "2024-06-02"
        spark.range(n_orders).select(
            okey.alias("o_orderkey"),
            ckey.alias("o_custkey"),
            F.element_at(
                F.array(F.lit("O"), F.lit("F"), F.lit("P")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("o_orderstatus"),
            ((F.col("id") % 100000) / 100.0 + 1.0).alias("o_totalprice"),
            F.lit(date).cast("timestamp").alias("o_orderdate"),
            F.concat(F.lit("P"), (F.col("id") % 5).cast("string")).alias(
                "o_orderpriority"
            ),
        ).write.mode("overwrite").parquet(f"{path}/orders.parquet")
        # customer source: day 2 churns every key the day-2 orders stage
        # (multiples of 10 get a drifted acctbal) and appends the new keys
        n_cust = n + (new_keys if day == 2 else 0)
        acctbal = (F.col("id") % 10000) / 10.0
        if day == 2:
            acctbal = acctbal + F.when(F.col("id") % 10 == 0, 1.0).otherwise(0.0)
        spark.range(n_cust).select(
            F.col("id").alias("c_custkey"),
            F.concat(F.lit("cust_"), F.col("id")).alias("c_name"),
            (F.col("id") % 25).cast("int").alias("c_nationkey"),
            acctbal.alias("c_acctbal"),
            F.element_at(
                F.array(*[F.lit(s) for s in ("AUTO", "BLDG", "HOME", "MACH", "FURN")]),
                (F.col("id") % 5 + 1).cast("int"),
            ).alias("c_mktsegment"),
        ).write.mode("overwrite").parquet(f"{path}/customer.parquet")
        spark.range(n_supp).select(
            F.col("id").alias("s_suppkey"),
            F.concat(F.lit("supp_"), F.col("id")).alias("s_name"),
            (F.col("id") % 25).cast("int").alias("s_nationkey"),
            ((F.col("id") % 9000) / 9.0).alias("s_acctbal"),
        ).write.mode("overwrite").parquet(f"{path}/supplier.parquet")
        key_base = 0 if day == 1 else n
        spark.range(2 * n_orders).select(
            (key_base + F.col("id") % n_orders).alias("l_orderkey"),
            (F.col("id") % 1000).alias("l_partkey"),
            (F.col("id") % n_supp).alias("l_suppkey"),
            (F.col("id") / n_orders).cast("int").alias("l_linenumber"),
            (F.col("id") % 50 + 1).cast("double").alias("l_quantity"),
            ((F.col("id") % 100000) / 100.0 + 1.0).alias("l_extendedprice"),
            ((F.col("id") % 10) / 100.0).alias("l_discount"),
            F.lit(0.05).alias("l_tax"),
            F.element_at(
                F.array(F.lit("N"), F.lit("R"), F.lit("A")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("l_returnflag"),
            F.lit("O").alias("l_linestatus"),
            F.lit(date).cast("timestamp").alias("l_shipdate"),
        ).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")
        return n_orders, new_keys

    print("composed daily-ETL probe: run_daily_etl end-to-end per tier")
    print(
        f"{'keys':>9} {'day':>3} {'orders':>9} {'wall_sec':>8} "
        f"{'shuffle_MB':>10} {'dim_cust':>9} {'fact_day':>9}"
    )
    for n in ns:
        root = tempfile.mkdtemp(prefix=f"etl_e2e_{n}_")
        try:
            day_rows = {}
            for day, run_date in ((1, "2024-06-01"), (2, "2024-06-02")):
                src = os.path.join(root, f"src_day{day}")
                n_orders, new_keys = write_inputs(src, n, day)
                meter = ExecutionMeter(spark)
                t0 = time.time()
                audit = run_daily_etl(
                    spark, src, os.path.join(root, "wh"), run_date
                )
                wall = time.time() - t0
                m = meter.read().metrics
                shuffle_mb = m.get("shuffle bytes written", 0.0) / 1e6
                day_rows[day] = (audit, n_orders, new_keys)
                print(
                    f"{n:>9} {day:>3} {n_orders:>9} {wall:>8.2f} "
                    f"{shuffle_mb:>10.1f} {audit.records['dim_customer']:>9} "
                    f"{audit.records['fact_orders']:>9}"
                )
                assert audit.status == "success"
                assert audit.records["staging"] == n_orders
                assert audit.records["fact_orders"] == n_orders
                assert audit.records["dq_failed"] == 0
            # composed-result invariants at full scale (day 2 = churn day)
            _, n2_orders, new_keys = day_rows[2]
            n_changed = n2_orders - new_keys
            dim = spark.read.parquet(os.path.join(root, "wh", "dim_customer"))
            dup_current = (
                dim.filter("is_current")
                .groupBy("c_custkey")
                .count()
                .filter("count != 1")
                .count()
            )
            keys_no_current = (
                dim.groupBy("c_custkey")
                .agg(F.sum(F.col("is_current").cast("int")).alias("nc"))
                .filter("nc = 0")
                .count()
            )
            closed = dim.filter(~F.col("is_current"))
            broken_chain = (
                closed.alias("a")
                .join(
                    dim.filter("is_current").alias("b"),
                    (F.col("a.c_custkey") == F.col("b.c_custkey"))
                    & (F.col("a.valid_to") == F.col("b.valid_from")),
                    "left_anti",
                )
                .count()
            )
            total, n_closed = dim.count(), closed.count()
            print(
                f"  invariants@{n}: dup_current={dup_current} "
                f"keys_no_current={keys_no_current} broken_chains={broken_chain} "
                f"closed={n_closed} (want {n_changed}) total={total} "
                f"(want {n + n_changed + new_keys})"
            )
            assert dup_current == 0 and keys_no_current == 0 and broken_chain == 0
            assert n_closed == n_changed
            assert total == n + n_changed + new_keys
            for rpt in ("report_segment_totals", "report_status_totals"):
                rows = spark.read.parquet(os.path.join(root, "wh", rpt)).count()
                assert rows > 0, rpt
        finally:
            shutil.rmtree(root, ignore_errors=True)
            spark.catalog.clearCache()


def bloomrt_probe(rs: list[int]) -> None:
    """Spark's RUNTIME bloom-filter join pushdown, A/B'd (r11): the engine
    ships with ``spark.sql.optimizer.runtime.bloomFilter.enabled=true``
    (the 4.x default), but the injection is gated on
    ``applicationSideScanSizeThreshold`` (10 GB default) — so at probe/test
    scale it NEVER engages, and at 100 TB it engages automatically.  This
    probe answers two questions with measurements instead of trust:

    1. does the injected filter actually cut the probe-side flow when it
       engages (threshold lowered to 0 to simulate the >10 GB regime)?
    2. does the kit's EXPLICIT ``operators.bloom`` path remain justified —
       i.e. is the runtime filter's coverage limited to shuffle-join
       probe sides (it is: decontamination's driver-collected filter,
       streaming prefilters and cross-stage reuse are outside its reach)?

    Per fact-row tier R: fact (R rows, custkey ~ uniform 1e6) joined to a
    1%-selective dimension slice, broadcast disabled so the join is SMJ
    (the only shape the injector targets).  Three runs, equal-output
    checksummed: bloom OFF, bloom ON (thresholds opened), and ON with the
    default 10 GB gate (expected: no injection, identical to OFF).
    Reported per run: fact-scan output rows (the number the filter
    exists to cut), total shuffle, wall."""
    spark = get_spark("scaling-probe-bloomrt")
    confs = {
        "off": {"spark.sql.optimizer.runtime.bloomFilter.enabled": "false"},
        "on": {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            # simulate the >10 GB probe-side regime at probe scale
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        },
        "on-default-gate": {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "10GB",
        },
    }
    saved = {
        k: spark.conf.get(k, None)
        for c in confs.values()
        for k in c
    }
    print(
        "runtime bloom-filter join probe (SMJ, 1%-selective dim; "
        "scan_rows = fact-scan output feeding the join)"
    )
    print(
        f"{'R':>10} {'mode':>16} {'wall_s':>7} {'scan_rows':>11} "
        f"{'shuffle_MB':>10} {'checksum':>20}"
    )
    for r in rs:
        n_keys = 1_000_000
        root = tempfile.mkdtemp(prefix="bloomrt_")
        fact_path = f"{root}/fact.parquet"
        dim_path = f"{root}/dim.parquet"
        spark.range(r).select(
            F.col("id").alias("o_id"),
            F.pmod(F.xxhash64("id"), F.lit(n_keys)).alias("k"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100000)) / 100.0).alias("amt"),
        ).write.mode("overwrite").parquet(fact_path)
        spark.range(n_keys).select(
            F.col("id").alias("k"),
            (F.col("id") % 100).alias("grp"),
        ).write.mode("overwrite").parquet(dim_path)
        results = {}
        prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            for mode, conf in confs.items():
                for k, v in conf.items():
                    spark.conf.set(k, v)
                spark.catalog.clearCache()
                fact = spark.read.parquet(fact_path)
                dim = spark.read.parquet(dim_path).filter(F.col("grp") == 7)  # 1%
                joined = fact.join(dim, "k").agg(
                    F.count("*").alias("n"),
                    F.sum(F.crc32(F.concat_ws(",", "o_id", "k"))).alias("sig"),
                )
                meter = ExecutionMeter(spark)
                t0 = time.time()
                row = joined.collect()[0]
                wall = time.time() - t0
                reading = meter.read()
                m = reading.metrics
                # fact-scan output rows (the number the injected filter
                # exists to cut) from the SQL plan graph — AQE wraps the
                # executed plan in QueryStage nodes, so physical-plan
                # collectLeaves() can't see the scans
                scan_rows = 0
                for eid in reading.ids:
                    graph = meter.store.planGraph(eid)
                    vals = meter.store.executionMetrics(eid)
                    nodes = graph.allNodes()
                    for i in range(nodes.size()):
                        node = nodes.apply(i)
                        if "fact.parquet" not in node.desc():
                            continue
                        mets = node.metrics()
                        for k2 in range(mets.size()):
                            met = mets.apply(k2)
                            if met.name() == "number of output rows":
                                v = vals.get(met.accumulatorId())
                                if v.isDefined():
                                    scan_rows += int(
                                        "".join(ch for ch in v.get() if ch.isdigit())
                                        or 0
                                    )
                checksum = (row["n"], row["sig"])
                results[mode] = checksum
                print(
                    f"{r:>10} {mode:>16} {wall:>7.2f} {scan_rows:>11} "
                    f"{m.get('shuffle bytes written', 0.0) / 1e6:>10.1f} "
                    f"{str(checksum):>20}"
                )
            assert len(set(results.values())) == 1, results  # equal output
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            shutil.rmtree(root, ignore_errors=True)


def dedup_probe(ks: list[int]) -> None:
    """MinHash/LSH near-dup + connected components over K× corpus
    replicas (the module docstring's default mode)."""
    spark = get_spark("scaling-probe")
    # warm-up: compile the plans once at the smallest scale
    warm = replicated_corpus(spark, 1)
    minhash_lsh_neardup(warm, threshold=0.5).write.mode("overwrite").format("noop").save()
    print(f"scale probe over {SF_DIR} (base docs replicated K×, tagged)")
    print(f"{'K':>3} {'docs':>7} {'lsh_sec':>8} {'pairs':>7} {'comp_sec':>9} {'clusters':>9}")
    for k in ks:
        corpus = replicated_corpus(spark, k)
        n_docs = corpus.count()
        t0 = time.perf_counter()
        pairs = minhash_lsh_neardup(corpus, threshold=0.5).select("doc_a", "doc_b").persist()
        n_pairs = pairs.count()
        lsh_sec = time.perf_counter() - t0
        nodes = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        t0 = time.perf_counter()
        comp = neardup_components(pairs, nodes)
        n_clusters = comp.select("component").distinct().count()
        comp_sec = time.perf_counter() - t0
        pairs.unpersist()
        print(
            f"{k:>3} {n_docs:>7} {lsh_sec:>8.2f} {n_pairs:>7} {comp_sec:>9.2f} {n_clusters:>9}"
        )
        spark.catalog.clearCache()


# flag -> (probe, default sizes); no flag runs the dedup kit
PROBES = {
    "--vectors": (vector_probe, [1, 5, 10]),
    "--bloom": (bloom_probe, [1_000_000, 3_000_000, 10_000_000]),
    "--graph": (graph_probe, [1, 5, 10]),
    "--winnow": (winnow_probe, [1, 5, 10]),
    "--powerlaw": (powerlaw_probe, [100_000, 1_000_000, 10_000_000]),
    "--sssp": (sssp_probe, [100_000, 1_000_000, 10_000_000]),
    "--triangles": (triangle_probe, [100_000, 1_000_000, 4_000_000]),
    "--skewjoin": (skewjoin_probe, [16_000_000]),
    "--ann": (ann_probe, [1, 8, 32]),
    "--text": (text_probe, [1, 5, 10]),
    "--etl": (etl_probe, [100_000, 1_000_000, 10_000_000]),
    "--etl-e2e": (etl_e2e_probe, [10_000_000]),
    "--bloomrt": (bloomrt_probe, [32_000_000]),
}


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] in PROBES:
        probe, default = PROBES[args.pop(0)]
    else:
        probe, default = dedup_probe, [1, 5, 10]
    probe([int(float(a)) for a in args] or default)


if __name__ == "__main__":
    main()

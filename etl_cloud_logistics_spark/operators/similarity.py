"""Similarity search over embedding columns (north-star extension X3/X5).

Design:
- dot products / norms are computed as *decimal-exact* sums of
  double-exact float32 products (a float32×float32 product is exactly
  representable in a double; casting each product to DECIMAL(38,12) makes the
  summation order-independent), so cosine values are bit-identical across
  engines — the DuckDB oracle reproduces them with the same casts;
- brute-force top-k is the correctness baseline: broadcast the (small) query
  set against the corpus, rank per query, keep row_number ≤ k — the corpus
  side streams, nothing materializes;
- the scale path is IVF-style bucket pruning: restrict candidates to the
  query's coarse partition before ranking (a precomputed bucket column such
  as ``label``, or a trained quantizer's centroids).  Candidate generation
  becomes an equi-join on the bucket id — shuffle O(corpus), not
  O(queries × corpus);
- the index has one lifecycle: train (``train_ivf_centroids`` +
  ``train_sq8_bounds``) → build (``build_sq8_index``) → persist → serve
  (``knn_sq8_serve``); ``knn_sq8`` is the same lifecycle in one plan, and
  ``knn_pq`` swaps the SQ8 codec for product quantization over the same
  shortlist/rerank tail.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# DECIMAL(30,12): addition of two (30,12) values yields (31,12) — scale is
# preserved (Spark only truncates scale when precision would exceed 38), so
# the explicit re-cast to (30,12) in the fold is lossless for |x| < 1e18.
_DEC = "decimal(30,12)"


def _bq(name: str) -> str:
    """Backtick-quote a column NAME for the one-parse SQL builders,
    escaping embedded backticks (ADVICE r11: a verbatim ``` ` ``` in the
    name would otherwise break the expression, and these builders must
    resolve the same top-level column F.col's parsed-identifier path
    would)."""
    return "`" + name.replace("`", "``") + "`"


def _dot_exact_sql(a: str, b: str) -> str:
    """The exact SQL text of ``dot_exact`` over two column names.

    r11 optimization round (guide §1.2 per-task work, driver side):
    building a higher-order fold through the Python API costs ~60 ms per
    HOF in py4j round-trips (lambda-variable creation is chatty), and the
    similarity paths build 7-14 of them per query CONSTRUCTION — measured
    as the dominant cost of knn_sq8_rerank's rebuild (profile: 2065 py4j
    round-trips, ~3.1 s socket wait on the bench host).  Parsing one SQL
    string builds the same zip_with/aggregate tree with the same
    DECIMAL(30,12) casts in the same places (oracle rows pin the emitted
    values bit-exactly) in a single round-trip."""
    return (
        f"CAST(aggregate(zip_with({_bq(a)}, {_bq(b)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0 AS {_DEC}), "
        f"(acc, x) -> CAST(acc + CAST(x AS {_DEC}) AS {_DEC})) AS DOUBLE)"
    )


def dot_exact(a: str, b: str) -> Column:
    """Order-independent exact dot product of two NAMED float-array columns
    (as double), built as one parsed expression."""
    return F.expr(_dot_exact_sql(a, b))


def norm_exact(a: str) -> Column:
    """Exact-sum L2 norm of a NAMED float-array column (sqrt applied to a
    deterministic double)."""
    return F.expr(f"SQRT({_dot_exact_sql(a, a)})")


def lit_double_array(values) -> Column:
    """A literal ``array<double>`` built with ONE py4j call (r11
    optimization round — guide §1.2 per-task work, applied to the DRIVER
    side): ``F.array(*[F.lit(v) ...])`` crosses the Python↔JVM bridge once
    per element, and the quantizer/centroid paths bake 64-4096 literals
    into their plans — measured 1.6-2.1 s of pure DataFrame CONSTRUCTION
    per knn_sq8_rerank build, the row's dominant cost (execution is
    0.5 s).  Formatting the doubles into one ``array(...)`` SQL expression
    moves the fan-out into Catalyst's parser.  ``repr(float)`` round-trips
    exactly (shortest decimal that parses back to the same double), so the
    parsed literals are bit-identical to what per-element ``F.lit`` would
    produce."""
    return F.expr(_darray_sql(values))


def _darray_sql(values) -> str:
    """SQL text of a literal array<double> (see lit_double_array).

    Non-finite elements (ADVICE r11): ``repr(nan)`` would render as the
    unparseable ``nanD``, so nan/±inf fall back to the explicit CAST forms
    the parser does accept — bounds/centroids derived from data can
    legitimately carry them (an all-NaN dimension's min is NaN)."""
    import math

    def one(v) -> str:
        f = float(v)
        if math.isfinite(f):
            return f"{f!r}D"
        if math.isnan(f):
            return "CAST('NaN' AS DOUBLE)"
        return f"CAST('{'-' if f < 0 else ''}Infinity' AS DOUBLE)"

    return "array(" + ",".join(one(v) for v in values) + ")"


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product for a KNOWN dimensionality as a static sum of
    ``a[i] * b[i]`` terms.  GetArrayItem arithmetic participates in
    whole-stage codegen, where a ``zip_with``/``aggregate`` double fold is
    interpreted per row — measured ~1.6x faster on the ~200k-pair neardup
    prefilter at sf0.1.  Order-dependent in the last bits: prefilter use
    only, never an emitted value."""
    out = a[0].cast("double") * b[0].cast("double")
    for i in range(1, dim):
        out = out + a[i].cast("double") * b[i].cast("double")
    return out


def _with_norm(
    df: DataFrame, id_name: str, p: str, id_col: str, vec_col: str, *extra: Column
) -> DataFrame:
    """``(id_name, {p}_vec, {p}_norm, *extra)``: one side of a pair join.
    Norms are per-row, so each side computes its own BEFORE the join and
    every pair evaluates one decimal fold (the dot), not three."""
    return df.select(
        F.col(id_col).alias(id_name),
        F.col(vec_col).alias(f"{p}_vec"),
        norm_exact(vec_col).alias(f"{p}_norm"),
        *extra,
    )


def _exact_top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Shared tail of every top-k path: decimal-exact cosine of each
    (query, neighbor) pair, ranked per query with the neighbor id as
    deterministic tiebreaker, top ``k`` kept.  ``pairs`` carries the
    ``_with_norm`` columns of both sides (``q_*`` and ``c_*``)."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot_exact("q_vec", "c_vec") / (F.col("q_norm") * F.col("c_norm"))).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim"), "rank")
    )


def _verified_pairs(pairs: DataFrame, threshold: float, dim: int) -> DataFrame:
    """Two-phase verify of candidate (vec_a, vec_b) pairs carrying the
    ``_with_norm`` columns of both sides: codegen double-dot prefilter
    (``dot_unrolled``, ≥ 10x cheaper than the decimal fold) with a 1e-6
    margin — it dwarfs ~1e-15 relative double-summation error and covers
    the half-ulp a 6-decimal ROUND can pull a just-below-threshold pair up
    by, so no qualifying pair is lost — then the exact decimal cosine only
    for survivors, so emitted values stay bit-exact vs the oracle."""
    return (
        pairs.filter(
            dot_unrolled(F.col("a_vec"), F.col("b_vec"), dim)
            / (F.col("a_norm") * F.col("b_norm"))
            >= threshold - 1e-6
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_exact("a_vec", "b_vec") / (F.col("a_norm") * F.col("b_norm")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (baseline).  The query set is
    broadcast; ranking is per-query (Window.partitionBy) with the neighbor id
    as deterministic tiebreaker."""
    q = _with_norm(queries, "query_id", "q", id_col, vec_col)
    c = _with_norm(corpus, "neighbor_id", "c", id_col, vec_col)
    return _exact_top_k(
        c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id")),
        k,
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (extension X2, vector variant):
    unordered pairs (a < b) with cosine ≥ threshold, candidates restricted to
    the same coarse bucket so the join is equi on the bucket id — shuffle
    O(corpus), never the O(n²) full cross product.  At 100 TB the bucket
    assignment comes from an LSH family or a trained quantizer; recall is
    tuned by probing multiple buckets per vector.  ``dim`` is the vector
    length the prefilter dot unrolls over (see ``_verified_pairs``)."""
    bucket = F.col(bucket_col).alias("bucket")
    a = _with_norm(emb, "vec_a", "a", id_col, vec_col, bucket)
    b = _with_norm(emb, "vec_b", "b", id_col, vec_col, bucket)
    return _verified_pairs(
        a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b")), threshold, dim
    )


def semdedup_prune(
    emb: DataFrame,
    threshold: float,
    dim: int,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv:2303.09540):
    keep a vector iff it has NO lower-id near-neighbor (cosine ≥ threshold)
    in its coarse bucket.  One row per corpus vector with the keep/drop
    decision, how many lower-id near-dups blocked it, and the smallest
    blocker id — the within-cluster pruning step a training-data pipeline
    runs after text-level MinHash dedup, where the bucket assignment comes
    from k-means over the embeddings (here the deterministic ``label``
    plays that role, as in the rest of the X3 kit).

    Semantics note: the one-pass lower-id-blocker rule is deterministic and
    needs only the pair stream — unlike a greedy sequential scan it may
    over-drop along similarity chains (b dropped by a, c dropped by b even
    though a≁c), which is the conservative direction for dedup.  When exact
    one-per-connected-group canonicalization is needed, feed the same pairs
    to ``operators.dedup.neardup_components`` instead.

    Distributed shape (100 TB): pair generation is the bucket equi-join of
    ``cosine_neardup_pairs`` (shuffle O(corpus), never all-pairs); the
    blocker aggregation and the left join back onto the corpus are one
    keyed shuffle each on the id — nothing scales with pair chains."""
    pairs = cosine_neardup_pairs(
        emb, threshold, dim, bucket_col=bucket_col, id_col=id_col, vec_col=vec_col
    )
    blockers = pairs.groupBy(F.col("vec_b").alias(id_col)).agg(
        F.count("*").alias("n_lower_dups"),
        F.min("vec_a").alias("kept_by"),
    )
    return (
        emb.select(id_col, bucket_col)
        .join(blockers, id_col, "left")
        .select(
            id_col,
            bucket_col,
            F.col("n_lower_dups").isNull().alias("kept"),
            F.coalesce(F.col("n_lower_dups"), F.lit(0).cast("long")).alias(
                "n_lower_dups"
            ),
            "kept_by",
        )
        # no final orderBy: the result is corpus-sized, and a global sort of
        # it would be the only O(corpus log corpus) exchange in the operator
    )


def _sq_dist_to(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance from a vector column to a literal centroid."""
    lit_arr = lit_double_array(centroid)
    return F.aggregate(
        F.zip_with(vec, lit_arr, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def nearest_buckets(vec: Column, centroids: list[list[float]], nprobe: int) -> Column:
    """Ids of the ``nprobe`` centroids nearest to ``vec`` (ascending distance,
    centroid id as deterministic tiebreaker).  Centroids are literals — model
    metadata baked into the plan, no join — so assignment is a narrow
    projection that scales embarrassingly."""
    ranked = F.array_sort(
        F.array(*[
            F.struct(_sq_dist_to(vec, c).alias("dist"), F.lit(i).alias("bucket"))
            for i, c in enumerate(centroids)
        ])
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda s: s["bucket"])


def _bucket_of(
    vec_col: str,
    centroids: list[list[float]] | None,
    bucket_col: str | None,
    nprobe: int | None = None,
) -> Column:
    """The coarse bucket column of the IVF paths: ``bucket_col`` as given,
    or from trained ``centroids`` — a corpus vector's nearest centroid
    (``nprobe=None``) or a query's ``nprobe`` nearest, exploded to one row
    per probe.  Exactly one of ``centroids``/``bucket_col`` is given."""
    if (centroids is None) == (bucket_col is None):
        raise ValueError("give exactly one of centroids= or bucket_col=")
    if bucket_col is not None:
        return F.col(bucket_col)
    if nprobe is None:
        return nearest_buckets(F.col(vec_col), centroids, 1)[0]
    return F.explode(nearest_buckets(F.col(vec_col), centroids, nprobe))


def train_ivf_centroids(
    corpus: DataFrame,
    n_clusters: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic Lloyd k-means for the IVF coarse quantizer.

    - Seeding: one hash-agg — ``min_by(vec, id)`` within ``xxhash64(id) % k``
      groups.  Deterministic and distributed (no global sort, no RNG).
    - Iteration: assignment is a narrow projection against literal
      centroids; the update is one ``posexplode`` + hash-agg with
      decimal-exact sums, so the trained model is bit-reproducible
      regardless of partitioning.
    - Only the k×dims centroid matrix ever reaches the driver (model
      metadata, not data rows) — the corpus itself never collects.

    The returned centroids feed ``build_sq8_index`` / ``knn_sq8`` /
    ``knn_sq8_serve``; at 100 TB train on a sample (the quantizer needs
    ~256k vectors, not the corpus) and persist the matrix next to the
    index."""
    seeds = (
        corpus.groupBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_clusters)).alias("g"))
        .agg(F.min_by(vec_col, F.col(id_col)).alias("v"))
        .orderBy("g")
        .collect()
    )
    cents = [[float(x) for x in r["v"]] for r in seeds]
    dims = len(cents[0])
    for _ in range(n_iter):
        # two selects: a generator (posexplode) in the same projection as the
        # lambda-built struct array makes Catalyst re-derive the struct field
        # names (col1/col2), breaking the named access inside nearest_buckets
        assigned = corpus.select(
            nearest_buckets(F.col(vec_col), cents, 1)[0].alias("b"),
            F.col(vec_col).alias("v"),
        ).select("b", F.posexplode("v").alias("pos", "x"))
        rows = (
            assigned.groupBy("b", "pos")
            .agg(
                (
                    F.sum(F.col("x").cast(_DEC)).cast("double") / F.count("*")
                ).alias("m")
            )
            .collect()
        )
        by_bucket: dict[int, dict[int, float]] = {}
        for r in rows:
            by_bucket.setdefault(r["b"], {})[r["pos"]] = r["m"]
        cents = [
            [by_bucket[b][p] for p in range(dims)] if b in by_bucket else cents[b]
            for b in range(len(cents))
        ]
    return cents


def recall_at_k(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Per-query recall of an approximate top-k result against the exact
    one: |approx ∩ exact| / |exact| by ``query_id``.  Pure joins/aggs —
    runs distributed as an operational metric next to the index build
    (inputs are (query_id, neighbor_id, ...) frames from the knn_*
    operators)."""
    truth = exact.select("query_id", "neighbor_id")
    hit = (
        truth.join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hit"))
    )
    base = truth.groupBy("query_id").agg(F.count("*").alias("n_true"))
    return base.join(hit, "query_id", "left").select(
        "query_id",
        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_true")).alias("recall"),
    )


def train_sq8_bounds(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension [lo, hi] bounds for SQ8 scalar quantization, computed
    with one ``posexplode`` + hash-agg over the corpus.  Like the IVF
    centroids, only the 2×dims bounds matrix reaches the driver (model
    metadata, not data); at 100 TB train on a sample and persist the bounds
    next to the index."""
    rows = (
        corpus.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min(F.col("x").cast("double")).alias("lo"),
             F.max(F.col("x").cast("double")).alias("hi"))
        .orderBy("pos")
        .collect()
    )
    return [r["lo"] for r in rows], [r["hi"] for r in rows]


def _sq8_steps(lo: list[float], hi: list[float]) -> list[float]:
    # a constant dimension (hi == lo) gets a dummy positive step; every value
    # quantizes to code -128 and dequantizes back to exactly lo — no div-by-0
    return [(h - l) / 255.0 if h > l else 1.0 for l, h in zip(lo, hi)]


def train_sq8_bounds_frame(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """The collect-free form of :func:`train_sq8_bounds` (r12 optimization
    round, guide §2.4 — remove jobs outright): a ONE-ROW frame
    ``(lo_arr: array<double>, step_arr: array<double>)`` meant to be
    broadcast-cross-joined into the index build, so the bounds aggregation
    rides the SAME SQL execution as the build instead of being a separate
    scheduled collect (knn_sq8_rerank measured 2 executions, the bounds
    collect ~0.6 s of it).  Arithmetic is identical to the driver-side
    path: per-dimension min/max of the double-cast values, step
    ``(hi-lo)/255.0`` with the constant-dimension dummy step 1.0 — the
    emitted codes are pinned bit-exact by the oracle rows either way."""
    per_dim = (
        corpus.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("lo"),
            F.max(F.col("x").cast("double")).alias("hi"),
        )
    )
    # array_sort on struct(pos, ...) orders by the unique pos — the same
    # ordering train_sq8_bounds' orderBy("pos") collect produced
    return per_dim.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, lo))), s -> s.lo)"
        ).alias("lo_arr"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, hi, lo))), "
            "s -> IF(s.hi > s.lo, (s.hi - s.lo) / 255.0D, 1.0D))"
        ).alias("step_arr"),
    )


def _quantize_sq8_sql(vec: str, lo_sql: str, step_sql: str) -> str:
    """Shared SQL text of the SQ8 quantize transform: ``lo_sql``/``step_sql``
    are either literal ``array(...)`` expressions (the persisted-model
    path) or backticked COLUMN references (``knn_sq8``'s in-plan bounds) —
    one builder so the two forms cannot drift."""
    return (
        f"transform({_bq(vec)}, (x, i) -> CAST(LEAST(127, GREATEST(-128, "
        f"CAST(FLOOR((CAST(x AS DOUBLE) - element_at({lo_sql}, i + 1)) "
        f"/ element_at({step_sql}, i + 1) + 0.5D) AS INT) - 128)) "
        "AS TINYINT))"
    )


def _dequantize_sq8_sql(codes: str, lo_sql: str, step_sql: str) -> str:
    """Shared SQL text of the SQ8 dequantize transform (see
    ``_quantize_sq8_sql``)."""
    return (
        f"transform({_bq(codes)}, (c, i) -> element_at({lo_sql}, i + 1) + "
        f"(CAST(c AS DOUBLE) + 128.0D) * element_at({step_sql}, i + 1))"
    )


def quantize_sq8(vec: str, lo: list[float], hi: list[float]) -> Column:
    """8-bit scalar quantization of the NAMED vector column: per-dimension
    affine map of a float vector onto ``array<tinyint>`` codes in
    [-128, 127].  This is the at-rest / in-memory index format — 1 byte per
    dimension instead of 4, the 4× footprint cut that makes a 100 TB
    corpus' index fit a cluster's RAM.  Rounding is ``floor(x + 0.5)``
    (identical semantics in Spark and DuckDB, so the oracle reproduces
    codes bit-exactly; ``round`` half-even vs half-up ambiguity never
    enters).  The transform parses as one SQL expression (r11 optimization
    round — a Python-API lambda costs ~60 ms of py4j chatter per build)."""
    return F.expr(
        _quantize_sq8_sql(vec, _darray_sql(lo), _darray_sql(_sq8_steps(lo, hi)))
    )


def dequantize_sq8(codes: str, lo: list[float], hi: list[float]) -> Column:
    """Inverse of ``quantize_sq8`` up to step/2 per element over the NAMED
    codes column: reconstructs the double vector the asymmetric scorer uses
    (query stays float, candidate is reconstructed from its codes — FAISS's
    asymmetric distance computation)."""
    return F.expr(
        _dequantize_sq8_sql(codes, _darray_sql(lo), _darray_sql(_sq8_steps(lo, hi)))
    )


def _codes_index(
    corpus: DataFrame,
    bucket: Column,
    codes: Column,
    recon,
    id_col: str,
    *carry: str,
) -> DataFrame:
    """A codes-only scored index: ``(neighbor_id, bucket, codes, *carry,
    approx_norm)``, where ``recon`` maps the codes column NAME to the
    reconstructed double vector and ``approx_norm`` is that vector's norm —
    what the asymmetric shortlist divides by.  Shared by the SQ8 and PQ
    builds."""
    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        bucket.alias("bucket"),
        codes.alias("codes"),
        *carry,
    ).withColumn(
        "approx_norm",
        F.sqrt(F.aggregate(recon("codes"), F.lit(0.0), lambda acc, x: acc + x * x)),
    )


def build_sq8_index(
    corpus: DataFrame,
    lo: list[float],
    hi: list[float],
    centroids: list[list[float]] | None = None,
    bucket_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PERSISTABLE scored index — what a 100 TB deployment stores:
    per corpus vector its coarse bucket, its ``array<tinyint>`` SQ8 codes
    (4× smaller than float32) and the reconstruction norm; the float
    vectors are NOT part of the scored index.  Build once per corpus
    version (one pass over the corpus, no shuffle), write with
    ``df.write.parquet`` / a ``SnapshotTable``, and serve many times with
    :func:`knn_sq8_serve` — the index build is the expensive pass, serving
    reads the stored index.  (lo, hi, centroids) are the small model
    metadata to persist alongside (k×dims floats)."""
    return _codes_index(
        corpus,
        _bucket_of(vec_col, centroids, bucket_col),
        quantize_sq8(vec_col, lo, hi),
        lambda codes: dequantize_sq8(codes, lo, hi),
        id_col,
    )


def _asym_shortlist_rerank(
    index: DataFrame,
    queries: DataFrame,
    corpus_vectors: DataFrame,
    k: int,
    shortlist: int | None,
    probe: Column,
    recon,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared serving tail of every quantized index (SQ8, PQ): each query
    probes the index buckets ``probe`` names, the codes-only candidates
    there are scored with the cheap asymmetric dot (float query ×
    ``recon``-structed codes) and the top ``shortlist`` (default 4k) per
    query survive; only the shortlist joins back to the float vectors (at
    scale a point-lookup fetch of k×4 rows per query, not a corpus scan)
    for the decimal-exact rerank — so quantization can demote/promote only
    candidates, never distort a reported score.  ``recon`` is the ONLY
    piece that differs between quantizers, so the tie-breaks, the 9-dp
    rounding of the shortlist score (fold noise must not decide the cut)
    and the self-match filter cannot drift between them."""
    if shortlist is None:
        shortlist = 4 * k
    q = _with_norm(queries, "query_id", "q", id_col, vec_col, probe.alias("bucket"))
    approx_dot = F.aggregate(
        F.zip_with(
            F.col("q_vec"),
            recon("codes"),
            lambda qx, cx: qx.cast("double") * cx,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w_short = W.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    shortlisted = (
        index.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(approx_dot / (F.col("q_norm") * F.col("approx_norm")), 9).alias("approx_sim"),
        )
        .withColumn("srank", F.row_number().over(w_short))
        .filter(F.col("srank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qf = _with_norm(queries, "query_id", "q", id_col, vec_col)
    cf = _with_norm(corpus_vectors, "neighbor_id", "c", id_col, vec_col)
    return _exact_top_k(
        shortlisted.join(cf, "neighbor_id").join(F.broadcast(qf), "query_id"), k
    )


def knn_sq8(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int | None = None,
    centroids: list[list[float]] | None = None,
    nprobe: int = 1,
    bucket_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized top-k in ONE plan: IVF bucket pruning + SQ8 asymmetric
    shortlist + exact rerank — the :func:`build_sq8_index` →
    :func:`knn_sq8_serve` lifecycle without the persist step (the
    registry/oracle entry point; a deployment builds the index once and
    serves from storage instead, with identical rows — pinned by the index
    parquet round-trip test).  Buckets come from ``centroids`` (trained,
    multi-probe) or a precomputed ``bucket_col``; exactly one must be
    given.  A shortlist covering every candidate returns exactly the float
    IVF ranking (every probed-bucket candidate reaches the exact rerank).

    The SQ8 bounds are derived IN-PLAN (r12 optimization round, guide
    §2.4): :func:`train_sq8_bounds_frame`'s one-row (lo_arr, step_arr)
    aggregate is broadcast-cross-joined into the index build and the
    quantize/dequantize transforms reference the arrays as columns instead
    of baked literals.  One SQL execution instead of two (a separate
    bounds collect was ~0.6 s of the knn_sq8_rerank rebuild); codes,
    shortlist and emitted cos_sim are bit-identical to the persisted-model
    path (the transforms share their SQL text, and the oracle pins the
    values).  A deployment that PERSISTS the model collects the bounds
    with :func:`train_sq8_bounds` instead (``run_index_build`` must write
    them to model.json)."""
    bucket = _bucket_of(vec_col, centroids, bucket_col)
    probe = _bucket_of(vec_col, centroids, bucket_col, nprobe)

    def recon(codes: str) -> Column:
        return F.expr(_dequantize_sq8_sql(codes, "`lo_arr`", "`step_arr`"))

    # the index rows carry the two bound arrays from the 1-row broadcast so
    # the serve-side reconstruction can reference them as columns; they are
    # projected away right after the shortlist score
    index = _codes_index(
        corpus.crossJoin(F.broadcast(train_sq8_bounds_frame(corpus, vec_col))),
        bucket,
        F.expr(_quantize_sq8_sql(vec_col, "`lo_arr`", "`step_arr`")),
        recon,
        id_col,
        "lo_arr",
        "step_arr",
    )
    return _asym_shortlist_rerank(
        index, queries, corpus, k, shortlist, probe, recon, id_col, vec_col
    )


def knn_sq8_serve(
    index: DataFrame,
    queries: DataFrame,
    corpus_vectors: DataFrame,
    k: int,
    lo: list[float],
    hi: list[float],
    shortlist: int | None = None,
    centroids: list[list[float]] | None = None,
    nprobe: int = 1,
    bucket_col: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve top-k from a PRE-BUILT (possibly storage-resident) SQ8 index:
    the shortlist scan touches only ``index`` (codes, no floats);
    ``corpus_vectors`` is consulted only for the k×4-per-query exact
    rerank fetch.  Results are identical to :func:`knn_sq8` over the same
    corpus — pinned by the index parquet round-trip test."""
    return _asym_shortlist_rerank(
        index, queries, corpus_vectors, k, shortlist,
        _bucket_of(vec_col, centroids, bucket_col, nprobe),
        lambda codes: dequantize_sq8(codes, lo, hi),
        id_col, vec_col,
    )


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    bucket_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: candidates limited to the query's coarse
    bucket (equi-join on the bucket id), then exact ranking within bucket."""
    bucket = F.col(bucket_col).alias("bucket")
    q = _with_norm(queries, "query_id", "q", id_col, vec_col, bucket)
    c = _with_norm(corpus, "neighbor_id", "c", id_col, vec_col, bucket)
    return _exact_top_k(
        c.join(F.broadcast(q), "bucket").filter(F.col("neighbor_id") != F.col("query_id")),
        k,
    )


# --- SRP (signed-random-projection) hyperplane LSH -------------------------
#
# The cosine-LSH family (Charikar 2002): a unit "hyperplane" h gives one
# signature bit sign(h·v); two vectors agree on the bit with probability
# 1 − θ/π (θ = their angle), so B-bit signatures over T independent tables
# concentrate high-cosine pairs into shared (table, signature) buckets.
# Here the hyperplanes are Rademacher ±1 vectors derived from md5 (seeded,
# RNG-free), so a SQL engine can reproduce the EXACT signatures — the whole
# candidate set is engine-deterministic, unlike library LSH whose planes
# live in private random state.  ±1 components lose nothing at these
# dimensionalities (Achlioptas 2003: sign projections satisfy the same
# distributional JL guarantees as Gaussians).


def srp_sign(table: int, bit: int, dim_idx: int) -> int:
    """Deterministic ±1 hyperplane component: parity of the first md5 hex
    char of 'srp:{table}:{bit}:{dim_idx}' — reproducible in any engine with
    md5 (the oracle uses the identical derivation)."""
    import hashlib

    h = hashlib.md5(f"srp:{table}:{bit}:{dim_idx}".encode()).hexdigest()
    return 1 if h[0] in "02468ace" else -1


def srp_plane_rows(n_tables: int, n_bits: int, dim: int) -> list[tuple[int, int, int, int]]:
    return [
        (t, b, d, srp_sign(t, b, d))
        for t in range(n_tables)
        for b in range(n_bits)
        for d in range(dim)
    ]


def srp_signatures(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_bits: int = 8,
) -> DataFrame:
    """Per-(vector, table) signature strings via the relational shape that
    scales: posexplode the vector once (corpus × dim rows), broadcast-join
    the T·B·dim plane table, and aggregate each bit as an EXACT-INTEGER
    signed sum: ±x·2^43 is an integer the double computes exactly for any
    float32 with |x| ≥ 2⁻²⁰, so the DECIMAL(38,0) cast never rounds and
    the ≥ 0 threshold — and therefore every signature bit — is
    order-independent and bit-identical to the SQL twin.  (A plain
    DECIMAL(38,k) cast of the raw value would hit the half-boundary where
    Spark HALF_UP and DuckDB HALF_EVEN legally split on short-dyadic
    float32s — the covariance_long trap, operators/embedding_stats.py;
    this corpus contains such values, e.g. 0.1983642578125.)  Bits then
    concatenate in bit order through a sorted collect.  Two shuffles, both
    keyed by the vector id; state per group is one decimal — nothing scales
    with corpus size except the rows themselves."""
    spark = emb.sparkSession
    planes = spark.createDataFrame(
        srp_plane_rows(n_tables, n_bits, dim), "t INT, b INT, d INT, s INT"
    )
    e = emb.select(id_col, F.posexplode(vec_col).alias("d", "x")).withColumn(
        "x", F.col("x").cast("double")
    )
    bits = (
        e.join(F.broadcast(planes), "d")
        .groupBy(id_col, "t", "b")
        .agg(
            F.sum(
                (F.col("x") * F.col("s") * F.lit(8796093022208.0)).cast(
                    "decimal(38,0)"
                )
            ).alias("proj")
        )
        .select(
            id_col,
            "t",
            "b",
            F.when(F.col("proj") >= 0, F.lit("1")).otherwise(F.lit("0")).alias("bit"),
        )
    )
    return bits.groupBy(id_col, "t").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("b", "bit"))), lambda s: s["bit"]
            ),
            "",
        ).alias("sig")
    )


def srp_signatures_arrow(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_bits: int = 8,
) -> DataFrame:
    """The vectorized twin of :func:`srp_signatures`: ONE Arrow pass per
    partition computing the same exact integer projections with an int64
    matmul — bit-identical output (pytest-pinned), ~an order of magnitude
    less work than the corpus×dim×(T·B) relational aggregation.

    Exactness carries over unchanged: x·2⁴³ is an integer every float32
    with \\|x\\| ≥ 2⁻²⁰ represents exactly in double (and 64-dim sums of
    ±x·2⁴³ stay < 2⁵⁹ ≪ 2⁶³), so the int64 accumulation — in ANY order —
    equals the relational form's DECIMAL(38,0) sums and the DuckDB
    oracle's.  The ±1 plane matrix is the same md5-derived Rademacher grid
    (srp_plane_rows), broadcast as (T·B)×dim int64 — a few KB.  No
    shuffle at all until the caller's bucket join: signature generation is
    embarrassingly parallel, which is exactly why the relational form's
    two shuffles were pure overhead."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    planes = np.array(
        [
            [srp_sign(t, b, d) for d in range(dim)]
            for t in range(n_tables)
            for b in range(n_bits)
        ],
        dtype=np.int64,
    )  # (T·B, dim)
    p_bc = spark.sparkContext.broadcast(planes)
    n_t, n_b = n_tables, n_bits
    scale = float(2**43)

    def gen(batches):
        P = p_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)  # (n, dim)
            # exact: float32 → double is lossless, ·2^43 shifts the
            # exponent only, rint is a no-op on the guaranteed-integer
            # range and matches the DECIMAL cast on anything below it
            X = np.rint(V * scale).astype(np.int64)
            proj = X @ P.T  # (n, T·B) exact int64
            bits = (proj >= 0).reshape(len(pdf), n_t, n_b)
            chars = np.where(bits, "1", "0")
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, n_t),
                    "t": np.tile(np.arange(n_t, dtype=np.int32), len(pdf)),
                    "sig": [
                        "".join(row)
                        for vec in chars
                        for row in vec
                    ],
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} long, t int, sig string"
    )


def srp_lsh_neardup(
    emb: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    n_bits: int = 8,
) -> DataFrame:
    """Hyperplane-LSH near-duplicate pairs: candidates = unordered pairs
    sharing a full B-bit signature in ANY of the T tables (equi-join on
    (t, sig), distinct), verified by exact decimal cosine ≥ threshold.

    Signatures come from the vectorized :func:`srp_signatures_arrow`; they
    are bit-identical to the relational :func:`srp_signatures` whose SQL
    twin is the DuckDB oracle (pytest-pinned equality on the sf corpus).

    The scale contract matches the MinHash/LSH text path: candidate
    generation is an equi-join on shared evidence — shuffle O(corpus · T),
    never O(n²) — and the verify stage touches only bucket collisions.
    Recall follows the SRP S-curve 1 − (1 − (1 − θ/π)^B)^T: with B=8/T=8,
    ≈ 0.94 at cos 0.9 but only ~0.15 at cos 0.35 — this family is for
    HIGH-similarity near-dup detection; moderate-threshold sweeps belong to
    the trained-IVF bucketing (``knn_sq8`` with ``centroids=``) whose probe
    count buys recall monotonically.  The measured figure on the planted
    fixture is pytest-pinned (test_extensions.py)."""
    sigs = srp_signatures_arrow(
        emb, id_col=id_col, vec_col=vec_col, dim=dim, n_tables=n_tables, n_bits=n_bits
    )
    a = sigs.select(F.col(id_col).alias("vec_a"), "t", "sig")
    b = sigs.select(F.col(id_col).alias("vec_b"), "t", "sig")
    cand = (
        a.join(b, ["t", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    # norms once per corpus VECTOR (O(n) decimal folds), not once per
    # candidate pair endpoint (O(candidates) — the r6 profile showed the
    # verify stage at ~8 of the row's 11.5 s at sf0.1, dwarfing the
    # vectorized signatures); same value either way, so emitted cosines
    # are unchanged.  The oracle replays the plain exact form over the
    # full candidate set.
    ea = _with_norm(emb, "vec_a", "a", id_col, vec_col)
    eb = _with_norm(emb, "vec_b", "b", id_col, vec_col)
    return _verified_pairs(cand.join(ea, "vec_a").join(eb, "vec_b"), threshold, dim)


# --- Product quantization (PQ) ---------------------------------------------
#
# The FAISS-style step past SQ8 (Jégou et al. 2011): split the vector into
# m subspaces, learn a k-centroid codebook per subspace (the same
# deterministic Lloyd trainer the IVF quantizer uses, run on the slice),
# and store each vector as m sub-centroid ids.  At m=8, k=16 a 64-dim
# float32 vector (256 B) becomes 8 codes (8 B) — a 32× footprint cut vs
# SQ8's 4× — while the codebook grid spans k^m (~4.3e9 here) effective
# reconstruction cells.  Serving is asymmetric: the float query scores
# against reconstructed candidates, shortlists, and only the shortlist
# touches real floats for the decimal-exact rerank — identical contract to
# knn_sq8, so reported cos_sim values stay bit-exact and quantization can
# only affect WHICH candidates reach the rerank (loss measured in
# tests/test_extensions.py).  Trained codebooks are not SQL-derivable
# (iterative k-means), so like the trained IVF path this family is
# pytest-measured rather than oracle-checked.


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic Lloyd k-means for ALL m subspaces JOINTLY: the corpus
    explodes once into (subspace, subvector) rows and every round is ONE
    distributed job keyed by (subspace, cluster) — m independent k-means
    without m× the driver round trips (the per-subspace form cost
    m·n_iter scheduling round trips; measured 31 s → 12 s at sf0.01 for
    the registry row).  Same determinism recipe as train_ivf_centroids:
    hash-seeded min_by, decimal-exact mean updates, only the m×k×(dim/m)
    codebook tensor reaches the driver.  At 100 TB train on a sample."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if k > 128:
        # codes are stored as tinyint: ids above 127 would overflow (throw
        # under ANSI, silently wrap otherwise); PQ at k=256 needs a wider
        # code type — rejected explicitly rather than corrupting indexes
        raise ValueError(f"k={k} exceeds the tinyint code range (max 128)")
    dsub = dim // m
    # (s, id, subvec) — one narrow explode, reused every round
    sub_rows = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("sv"),
    ).select("_id", F.col("sv.s").alias("s"), F.col("sv.v").alias("v"))
    seeds = (
        sub_rows.groupBy(
            "s", F.pmod(F.xxhash64(F.col("_id")), F.lit(k)).alias("g")
        )
        .agg(F.min_by("v", F.col("_id")).alias("v"))
        .collect()
    )
    # a tiny corpus can leave hash-seed groups empty; drop them (per
    # subspace the codebook shrinks, exactly as train_ivf_centroids does)
    # instead of leaving all-zero placeholder centroids that would attract
    # small-norm subvectors and decode to zeros
    seeded: dict[int, dict[int, list[float]]] = {}
    for r in seeds:
        seeded.setdefault(r["s"], {})[r["g"]] = [float(x) for x in r["v"]]
    books: list[list[list[float]]] = [
        [seeded[s][g] for g in sorted(seeded.get(s, {}))] for s in range(m)
    ]
    if any(not b for b in books):
        raise ValueError("empty corpus: no PQ seeds")
    for _ in range(n_iter):
        # assignment: nearest centroid per (s, row); the per-subspace
        # codebooks select via a chained CASE on the subspace id, so the
        # whole round stays one job over the exploded stream
        assign = None
        for s in range(m):
            expr = nearest_buckets(F.col("v"), books[s], 1)[0]
            assign = (
                F.when(F.col("s") == s, expr)
                if assign is None
                else assign.when(F.col("s") == s, expr)
            )
        # two selects — the generator (posexplode) must not share a
        # projection with the lambda-built struct sort inside
        # nearest_buckets (same Catalyst field-renaming trap documented in
        # train_ivf_centroids)
        exploded = sub_rows.select("s", assign.alias("b"), F.col("v")).select(
            "s", "b", F.posexplode("v").alias("pos", "x")
        )
        rows = (
            exploded.groupBy("s", "b", "pos")
            .agg(
                (F.sum(F.col("x").cast(_DEC)).cast("double") / F.count("*")).alias("c")
            )
            .collect()
        )
        upd: dict[tuple[int, int], dict[int, float]] = {}
        for r in rows:
            upd.setdefault((r["s"], r["b"]), {})[r["pos"]] = r["c"]
        for (s, b), d in upd.items():
            books[s][b] = [d[p] for p in range(dsub)]
    return books


def encode_pq(vec: Column, codebooks: list[list[list[float]]], dim: int) -> Column:
    """array<tinyint> of per-subspace nearest-centroid ids — the stored
    index payload.  Pure column expressions (the codebooks embed as
    literals); one narrow pass, no shuffle, no Python per row."""
    m = len(codebooks)
    dsub = dim // m
    return F.array(
        *[
            nearest_buckets(F.slice(vec, s * dsub + 1, dsub), book, 1)[0].cast("tinyint")
            for s, book in enumerate(codebooks)
        ]
    )


def decode_pq(codes: Column, codebooks: list[list[list[float]]]) -> Column:
    """Reconstruction: concatenate each subspace's chosen centroid — the
    candidate-side vector of the asymmetric scorer."""
    parts = []
    for s, book in enumerate(codebooks):
        book_lit = F.array(*[lit_double_array(c) for c in book])
        parts.append(F.element_at(book_lit, codes[s].cast("int") + 1))
    return F.concat(*parts)


def knn_pq(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    codebooks: list[list[list[float]]],
    dim: int = 64,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric top-k with exact rerank, mirroring :func:`knn_sq8`:
    the index holds per corpus vector its coarse bucket, its m ``tinyint``
    subspace codes (32× smaller than float32, vs SQ8's 4×) and the
    reconstruction norm; the shortlist ranks by approx cosine of the float
    query against reconstructed candidates (rounded to 9 dp before the rank
    cut, so fold noise never decides it), and only the shortlist gets the
    exact decimal rerank.  Every corpus vector sits in one bucket, so the
    whole corpus is scored (the pure-PQ measurement mode)."""
    bucket = F.lit(0)

    def recon(codes: str) -> Column:
        return decode_pq(F.col(codes), codebooks)

    index = _codes_index(
        corpus, bucket, encode_pq(F.col(vec_col), codebooks, dim), recon, id_col
    )
    return _asym_shortlist_rerank(
        index, queries, corpus, k, shortlist, bucket, recon, id_col, vec_col
    )

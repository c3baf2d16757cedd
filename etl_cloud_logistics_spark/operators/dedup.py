"""Deduplication kit (north-star extension X1/X2): exact, fingerprint,
n-gram Jaccard, MinHash+LSH, SimHash.

All variants are pure DataFrame compositions over the ``documents`` table —
no Python UDFs; hashing is JVM ``md5``, which lets the DuckDB oracle
reproduce signatures bit-for-bit (both emit lowercase hex).

Scale design (100 TB corpus):
- tokenize/shingle = narrow ops (no shuffle);
- the pair-finding join is on *shared shingles* (or shared LSH band keys),
  never a cross join: candidates are generated only where evidence exists,
  which is the standard linear-ish MinHash/LSH layout;
- hot shingles (stopword runs) are the skew risk — ``jaccard_pairs`` takes a
  ``max_shingle_freq`` cap that drops shingles occurring in more than N docs
  (a common-crawl trick: ubiquitous shingles carry no discriminative signal);
- MinHash signatures shrink each doc to ``n_hashes`` strings before the join,
  so the wide stage is O(docs × bands), not O(docs × shingles).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .checkpointing import RoundCheckpointer, materialize

# ---------------------------------------------------------------------------
# tokenization / shingling
# ---------------------------------------------------------------------------


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Lower-case whitespace tokens as an array column ``ws``."""
    return df.withColumn("ws", F.split(F.lower(F.col(text_col)), " "))


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles, one row per (id, shingle) — distinct by
    default; ``distinct=False`` keeps one row per OCCURRENCE.

    Row-level formulation (posexplode + indexed concat) on purpose: it runs
    inside whole-stage codegen, which measures ~3x faster than building the
    per-doc array with interpreted higher-order lambdas and exploding it.
    The ``distinct()`` shuffle this needs is keyed (id, shingle) — the same
    exchange the downstream shared-shingle join pays anyway.

    ``distinct=False`` skips that exchange for consumers whose next step is
    a shingle-keyed aggregation with set semantics (e.g. ``collect_set``):
    partial aggregation dedups map-side, so the pre-shuffle distinct would
    only add a second full pass of the shingle strings over the wire."""
    sh = _positional_grams(df, id_col, text_col, n).select(id_col, "s")
    return sh.distinct() if distinct else sh


def _positional_grams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """One row per word n-gram OCCURRENCE: (id, pos, s, last_pos), where
    ``pos`` is the 0-based gram start and ``last_pos = n_words - n`` is the
    final gram position — carried from the array length at projection time
    so positional consumers (winnowing) never pay a second partition-wide
    window just to learn where the document ends.

    Row-level formulation (posexplode + indexed concat) on purpose: it runs
    inside whole-stage codegen, which measures ~3x faster than building the
    per-doc array with interpreted higher-order lambdas and exploding it
    (and indexed array refs in a codegen projection are CSE'd — the HOF
    lambda re-evaluation trap in PERFORMANCE.md does not apply here)."""
    toks = tokens(df, text_col).select(id_col, "ws")
    pos = toks.select(
        id_col,
        F.posexplode("ws").alias("pos", "w0"),
        F.col("ws"),
    )
    return pos.filter(F.col("pos") + n <= F.size("ws")).select(
        id_col,
        "pos",
        F.concat_ws(
            " ", *[F.col("ws")[F.col("pos") + i] for i in range(n)]
        ).alias("s"),
        (F.size("ws") - n).alias("last_pos"),
    )


# ---------------------------------------------------------------------------
# X1 — exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, on: list[str], id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: deterministic representative = min(id).
    Hash-groupBy on the dedup key — one shuffle, map-side partial agg."""
    return df.groupBy(*on).agg(
        F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies")
    )


def fingerprint(df: DataFrame, text_col: str = "text", prefix_tokens: int = 8):
    """Document fingerprints (rolling-hash analog, fully relational):
    ``fp_full`` = md5 of the whole lowered text, ``fp_prefix`` = md5 of the
    first ``prefix_tokens`` tokens (groups docs that share an opening)."""
    t = tokens(df, text_col)
    return t.select(
        "*",
        F.md5(F.lower(F.col(text_col)).cast("binary")).alias("fp_full"),
        F.md5(
            F.concat_ws(" ", F.slice("ws", 1, prefix_tokens)).cast("binary")
        ).alias("fp_prefix"),
    ).drop("ws")


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing fingerprint set per document (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word ``k``-gram, slide a
    window of ``w`` consecutive gram hashes, select each full window's
    MINIMUM hash, return the distinct (id, fp) selections.

    Guarantee: any run of >= w + k - 1 words shared by two documents puts
    one identical full window in both, so they share at least one selected
    fingerprint — while only ~2/(w+1) of gram hashes are retained.  This is
    VALUE winnowing (the fingerprint is the window-min hash, not the
    canonical (hash, position) pair): the value set carries the pairing
    guarantee, dedups harder, and stays portable — a packed 64-bit
    (hash, pos) key exceeds exact-double range, so a SQL oracle could not
    unpack it losslessly.

    Distributed shape: gram hashing rides the shared positional-grams
    codegen projection (indexed array refs, never a HOF lambda —
    PERFORMANCE.md), and the carried ``last_pos`` column makes the
    full-window filter a row-local predicate (no second partition-wide
    window); the window-min costs one id-keyed exchange with O(w) rolling
    state.  60-bit hashes (15 hex chars of md5, the same width as the
    KMV/MinHash machinery) keep every downstream min/count BIGINT-exact in
    both engines while making cross-doc birthday collisions negligible at
    corpus scale (~10M retained fingerprints collide with p ~ 1e-5 in a
    2^60 space, vs certainty at 2^28)."""
    g = _positional_grams(df, id_col, text_col, k).select(
        id_col,
        "pos",
        "last_pos",
        F.conv(F.substring(F.md5(F.col("s").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        g.withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("last_pos") - (w - 1))
        .select(id_col, "fp")
        .distinct()
    )


# ---------------------------------------------------------------------------
# X2a — exact n-gram Jaccard pairs via shared-shingle join
# ---------------------------------------------------------------------------


def _shared_shingle_counts(
    sh: DataFrame,
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b) for every pair sharing ≥1 shingle
    — the common evidence-join core of ``jaccard_pairs`` and
    ``containment_pairs``.  Join on shared shingles (id_a < id_b), count
    common, combine with per-doc set sizes.  ``max_shingle_freq`` drops
    ubiquitous shingles before the join (skew guard at corpus scale).

    Eager: the shingle stream is staged (``materialize``) — it
    feeds the frequency-cap join (both sides), the self-join (both sides)
    and the size aggregation, and a lazy/persisted formulation re-derived
    the whole tokenize→posexplode→distinct subtree per consumer (the r6
    plan audit counted 27 exchanges here vs ≤8 for every sibling; caches
    also outlive the query because this function returns a lazy frame and
    cannot own the unpersist).  Checkpointing truncates lineage instead:
    each upstream stage runs exactly once and the blocks are freed with
    the RDD by the context cleaner, not at session end."""
    if sh.storageLevel == StorageLevel.NONE:
        sh = materialize(sh)
    if max_shingle_freq is not None:
        freq = sh.groupBy("s").agg(F.count("*").alias("_df"))
        sh = materialize(
            sh.join(freq.filter(F.col("_df") <= max_shingle_freq), "s").drop("_df")
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.select(F.col(id_col).alias("doc_a"), "s")
    b = sh.select(F.col(id_col).alias("doc_b"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
    )


def jaccard_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold (symmetric overlap:
    |A∩B| / |A∪B|)."""
    return (
        _shared_shingle_counts(sh, id_col, max_shingle_freq)
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set CONTAINMENT ≥ threshold: |A∩B| /
    min(|A|, |B|) — the excerpt/quote detector.  A short document embedded
    verbatim in a long one scores ~1.0 here while its Jaccard is ~|A|/|B|
    (arbitrarily small), so Jaccard/MinHash dedup never surfaces it; Broder
    (1997) defines both resemblances for exactly this asymmetry.  Same
    evidence-bounded shared-shingle join as ``jaccard_pairs`` (never a pair
    enumeration), same hot-shingle skew cap."""
    return (
        _shared_shingle_counts(sh, id_col, max_shingle_freq)
        .withColumn(
            "containment",
            F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")),
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# X2b — MinHash + LSH banding
# ---------------------------------------------------------------------------


def shingle_array(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles as ONE array column ``sh`` per doc —
    the no-shuffle twin of :func:`shingles` (transform over token positions
    stays entirely inside whole-stage codegen).

    Docs with fewer than ``n`` tokens have an EMPTY shingle set.  Downstream
    MinHash then yields all-null minima, which collapses every short doc to
    the same empty signature/band key; the oracle twins mirror these
    empty-set semantics bit-identically."""
    toks = tokens(df, text_col).select(id_col, "ws")
    # sequence(1, 0) would be DESCENDING [1, 0], so short docs need the guard
    positions = F.when(
        F.size("ws") >= n, F.sequence(F.lit(1), F.size("ws") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    arr = F.array_distinct(
        F.transform(
            positions,
            lambda i: F.concat_ws(
                " ", *[F.element_at("ws", (i + j).cast("int")) for j in range(n)]
            ),
        )
    )
    return toks.select(id_col, arr.alias("sh"))


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", n_hashes: int = 8
) -> DataFrame:
    """MinHash signature per doc: sig[j] = min over shingles of
    md5(shingle ⊕ j), j < n_hashes.  The md5-string minimum is a valid
    min-wise permutation family and — unlike seeded hash functions — is
    reproducible by any engine with md5 (the DuckDB oracle mirrors it).

    Input may be exploded (id, s) rows (:func:`shingles`) or per-doc arrays
    (:func:`shingle_array`).  The array path computes the whole signature as
    one narrow higher-order expression — zero shuffles; the exploded path
    falls back to a (doc, j) hash-agg."""
    if "sh" in sh.columns:  # per-doc array layout: no shuffle at all
        per_j = F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda j: F.struct(
                j.cast("int").alias("j"),
                F.array_min(
                    F.transform(
                        F.col("sh"),
                        lambda s: F.md5(
                            F.concat(s, F.lit("#"), j.cast("string")).cast("binary")
                        ),
                    )
                ).alias("h"),
            ),
        )
        return sh.select(id_col, F.explode(per_j).alias("jh")).select(
            id_col, F.col("jh.j").alias("j"), F.col("jh.h").alias("h")
        )
    hashed = sh.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("j"),
        F.col("s"),
    ).select(
        id_col,
        "j",
        F.md5(
            F.concat(F.col("s"), F.lit("#"), F.col("j").cast("string")).cast("binary")
        ).alias("h"),
    )
    return hashed.groupBy(id_col, "j").agg(F.min("h").alias("h"))


def band_keys(
    sig: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """(id, band, band_key) rows from a (id, j, h) signature — the
    persistable LSH bucket evidence (incremental ingestion stores these
    next to the signature so NEW batches join against history without
    recomputing it).  sort_array on struct(j,h) orders by j, so the concat
    is position-stable regardless of aggregation order."""
    return (
        sig.withColumn("band", F.floor(F.col("j") / rows_per_band))
        .groupBy(id_col, "band")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("j", "h"))),
                    lambda x: x["h"],
                ),
            ).alias("band_key")
        )
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """Band the signature (concat ``rows_per_band`` consecutive minima) and
    emit distinct candidate pairs sharing any band bucket.  The join is
    equi on (band, band_key) — linear in bucket sizes."""
    banded = band_keys(sig, id_col=id_col, rows_per_band=rows_per_band)
    banded = banded.persist()  # both sides of the bucket self-join
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "band_key")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def verify_jaccard_candidates(
    cand: DataFrame, sh_arr: DataFrame, id_col: str = "doc_id", threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard over CANDIDATE pairs only: join each side's shingle
    array onto the pair and intersect in-row (array_intersect) — work is
    O(candidates × shingles-per-doc), independent of corpus size."""
    a = sh_arr.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh_arr.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias("n_common"),
            F.size("sh_a").cast("bigint").alias("n_a"),
            F.size("sh_b").cast("bigint").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_neardup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs: MinHash/LSH candidate generation + exact Jaccard
    verification of candidates only (the scalable two-phase layout).

    Signature + banding are narrow per-doc expressions; the only shuffles
    are the band-bucket equi-join and the two candidate⋈shingle-array joins.

    Hot shingles are the MinHash failure mode: a shingle present in a
    large fraction of documents (stopword runs, boilerplate) tends to BE
    the md5 minimum for every document containing it, so every such doc
    lands in one band bucket and the candidate join turns quadratic in
    that bucket."""
    # reuse: the signatures and both sides of the candidate verification read it
    sh_arr = shingle_array(df, id_col, text_col, n).persist()
    cand = lsh_candidate_pairs(
        minhash_signatures(sh_arr, id_col, n_hashes), id_col, rows_per_band
    )
    return verify_jaccard_candidates(cand, sh_arr, id_col, threshold).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard"
    )


# ---------------------------------------------------------------------------
# X2c — SimHash (64-bit) — bit tricks, JVM-side
# ---------------------------------------------------------------------------


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash over distinct tokens: token hash = first 15 hex chars
    of md5 (60 bits); each bit contributes ±1; sign of the per-bit sum forms
    the fingerprint.

    Computed as ONE narrow higher-order expression per document — hash the
    distinct-token array once, then fold the 60 bit positions over it.  No
    explode, no shuffle (the old layout shuffled |docs|×60 rows through two
    hash-aggs); the whole operator runs inside whole-stage codegen."""
    hashes = F.transform(
        F.array_distinct("ws"),
        lambda w: F.conv(F.substring(F.md5(w.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    t = tokens(df, text_col).select(id_col, hashes.alias("hs"))
    # one-py4j-call literal array (r11 optimization round): 60 F.lit+cast
    # pairs crossed the Python↔JVM bridge 120 times per plan build; the
    # parsed long literals are identical
    masks = F.expr("array(" + ",".join(f"{1 << b}L" for b in range(60)) + ")")
    zeros = F.array_repeat(F.lit(0).cast("long"), 60)
    # one fold over the token hashes: element-wise ±1 per bit position
    bitsums = F.aggregate(
        F.col("hs"),
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)).cast("long"),
        ),
    )
    # fingerprint: set each mask bit whose contribution sum is positive
    simhash = F.aggregate(
        F.zip_with(bitsums, masks, lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return t.select(id_col, simhash.alias("simhash"))


def simhash_near_pairs(sig: DataFrame, id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming, found by pigeonhole
    banding: the 60-bit fingerprint splits into 4 × 15-bit blocks, and any
    pair differing in ≤ 3 bits must agree on ≥ 1 whole block — so an
    equi-join on (block index, block value) has *complete* recall for
    max_hamming ≤ 3 while never forming a cross product.
    ``bit_count(xor)`` verifies the exact distance.

    The signature frame feeds BOTH sides of the self-join; without
    materialization Spark computes the (expensive, narrow) fingerprint twice
    — so it is persisted here.  At 100 TB the same role is played by landing
    signatures in a table once and joining from that."""
    sig = sig.persist()  # reuse: both sides of the block self-join
    blocked = sig.select(
        id_col,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("blk"),
    ).withColumn("block_val", F.expr("shiftright(simhash, 15 * blk) & 32767"))
    a = blocked.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"), "blk", "block_val"
    )
    b = blocked.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"), "blk", "block_val"
    )
    return (
        a.join(b, ["blk", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


# ---------------------------------------------------------------------------
# X2 post-processing — duplicate clusters → canonical representative
# ---------------------------------------------------------------------------


def neardup_components(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs by iterative min-label
    propagation: every doc's label converges to the smallest doc_id reachable
    through duplicate edges — the canonical representative of its cluster.

    This is the step that turns PAIRS into a KEEP/DROP decision (training
    pipelines keep one doc per cluster).  Delta iteration: only labels that
    improved last round (the frontier) are re-propagated, so join input
    shrinks with convergence instead of rescanning every edge each round;
    diameter bounds iterations (near-dup clusters are shallow in practice —
    pathological chains cap at ``max_iter``).  The convergence probe reads a
    ``moved`` flag off the already-checkpointed round result rather than
    joining old-vs-new labels, so each round costs one shuffle job plus one
    cheap scan.

    Rounds truncate lineage through ``RoundCheckpointer``, in the
    session's checkpoint mode: ``localCheckpoint`` without a checkpoint
    directory, the reliable parquet slots under one (restart-safe on a
    real cluster; see operators/checkpointing.py).  In reliable mode the
    returned DataFrame lazily reads this invocation's final slot, which
    stays on disk for the life of the result.

    Chain-shaped graphs whose diameter exceeds ``max_iter`` fail loudly
    rather than split a component.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        # distinct() partitions by (src, dst); re-key by the propagation
        # join key so the cached plan carries hashpartitioning(src) and
        # rounds stop re-exchanging O(|E|) (r8 power-law probe finding)
        .repartition("src")
        .persist()  # reuse: every round joins it; unpersisted after the loop
    )
    checkpoint = RoundCheckpointer(pairs.sparkSession, prefix="components")
    labels = checkpoint(
        all_ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("lbl"))
    )
    frontier = labels  # round 0: every initial label still needs propagating
    converged = False
    for _ in range(max_iter):
        # propagate only labels that improved last round — min over the
        # frontier neighbors; earlier labels already reached these nodes
        neighbor_min = (
            edges.join(frontier, edges.src == frontier.node)
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = checkpoint(
            labels.join(neighbor_min, labels.node == neighbor_min.dst, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
                F.coalesce(F.col("nlbl") < F.col("lbl"), F.lit(False)).alias("moved"),
            )
        )
        labels = new_labels.select("node", "lbl")
        frontier = new_labels.filter("moved").select("node", "lbl")
        if new_labels.filter("moved").limit(1).count() == 0:
            converged = True
            break
    edges.unpersist()
    checkpoint.cleanup_stale()
    if not converged:
        # labels still moved on the last round: a component with diameter >
        # max_iter would be silently split into bogus sub-components, and the
        # caller's keep/drop decisions would be wrong — fail loudly instead
        # (the moved flag is already computed, so this check is free).
        raise RuntimeError(
            f"neardup_components did not converge within max_iter={max_iter} "
            "iterations (a duplicate chain longer than max_iter exists); "
            "re-run with a larger max_iter"
        )
    return labels.select(F.col("node").alias(id_col), F.col("lbl").alias("component"))

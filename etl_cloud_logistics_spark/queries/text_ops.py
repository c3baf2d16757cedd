"""Text-analysis + deduplication queries over ``documents`` (north-star
extensions X1/X2/X4; SURVEY.md §2.11).

The shared shingle CTE in the oracles mirrors ``operators.dedup.shingles``
token-for-token; md5 is the cross-engine hash (both emit lowercase hex), so
even the MinHash/LSH pipeline is differential-tested end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import (
    exact_dedup,
    fingerprint,
    jaccard_pairs,
    minhash_lsh_neardup,
    shingles,
    simhash64,
    simhash_near_pairs,
    tokens,
)
from . import register
from ._sqlutil import hex_prefix_bigint

# DuckDB twin of operators.dedup.shingles (3-gram word shingles, distinct)
_SHINGLES_CTE = """
    tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        ) t
    )
"""

_JACCARD_CTE = f"""
    {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT c.doc_a, c.doc_b, c.n_common, sa.n AS n_a, sb.n AS n_b,
               c.n_common / (sa.n + sb.n - c.n_common) AS jaccard
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
    )
"""


@register(
    "dedup_exact_content",
    oracle="""
    SELECT md5(lower(text)) AS content_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(text))
    """,
    extra=True,  # r5: rotated OUT after four green rounds; X1 keeps driver
    # rows passage_dedup_chunks + the exact-dedup stage inside
    # curation_pipeline_end2end
)
def dedup_exact_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (X1) keyed by content hash — at 100 TB you never group by
    the raw text; the md5 group key keeps the shuffle rows narrow and the
    deterministic min(doc_id) representative makes reruns idempotent."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "content_hash", F.md5(F.lower("text").cast("binary"))
    )
    return exact_dedup(docs, ["content_hash"], "doc_id")


@register(
    "doc_fingerprints",
    oracle="""
    SELECT doc_id,
           md5(lower(text)) AS fp_full,
           md5(array_to_string((string_split(lower(text), ' '))[1:8], ' ')) AS fp_prefix
    FROM documents
    """,
    extra=True,  # driver row carried by doc_metrics (per-doc superset)
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (X4): whole-text hash + opening-8-token hash
    (rolling-hash analog for clustering docs that share an opening)."""
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fp_full", "fp_prefix")


# Hot-shingle cap for the registered exact-Jaccard query: a shingle present in
# more than this many docs carries no near-dup signal (boilerplate runs) but
# makes the shared-shingle join quadratic in its bucket — THE skew risk of the
# non-LSH variant at corpus scale.  The oracle mirrors the cap, so the result
# stays bit-exact (both sides drop the same evidence).
_JACCARD_MAX_SHINGLE_FREQ = 100


@register(
    "neardup_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_JACCARD_MAX_SHINGLE_FREQ}),
    shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN kept USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT c.doc_a, c.doc_b, c.n_common, sa.n AS n_a, sb.n AS n_b,
               c.n_common / (sa.n + sb.n - c.n_common) AS jaccard
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_common, n_a, n_b, jaccard
    FROM ver WHERE jaccard >= 0.5
    """,
    extra=True,  # X2 driver rows: neardup_minhash_lsh + neardup_embedding_cosine + components
)
def neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs (X2) via the shared-shingle
    join — candidates only where shingle evidence exists, never O(n²) — with
    the hot-shingle frequency cap ACTIVE (the operator's documented skew
    guard: without it one boilerplate shingle makes its join bucket
    quadratic).  The oracle applies the identical cap, so the comparison
    stays bit-exact.

    PLAN COST — this is the pedagogical exact baseline, NOT the scale path:
    the r3 plan audit (EXPLAIN_AUDIT_r03.txt) measured 27 exchanges / 11
    broadcast joins for this query, by far the heaviest plan in the
    registry (the frequency-cap join, the shingle self-join and the two
    size joins each shuffle the full exploded (doc, shingle) stream), vs 5
    exchanges for ``neardup_minhash_lsh``, whose signatures shrink every
    doc to n_hashes strings BEFORE any shuffle.  At 100 TB use
    ``neardup_minhash_lsh`` (same pair semantics at threshold 0.5, exact
    Jaccard verification of candidates only); reach for this operator only
    to validate the LSH recall on a sample."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(
        shingles(docs), threshold=0.5, max_shingle_freq=_JACCARD_MAX_SHINGLE_FREQ
    ).select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")


@register(
    "neardup_minhash_lsh",
    oracle=f"""
    WITH {_JACCARD_CTE},
    mh AS (
        SELECT doc_id, j, MIN(md5(s || '#' || j)) AS h
        FROM sh, range(8) t(j)
        GROUP BY doc_id, j
    ),
    bands AS (
        SELECT doc_id, j // 2 AS band, string_agg(h, '' ORDER BY j) AS band_key
        FROM mh GROUP BY doc_id, j // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT v.doc_a, v.doc_b, v.n_common, v.n_a, v.n_b, v.jaccard
    FROM cand c JOIN ver v ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
    WHERE v.jaccard >= 0.5
    """,
)
def neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection (X2): md5-family MinHash signatures →
    4 bands × 2 rows → bucket join for candidates → exact-Jaccard verify of
    candidates only.  The md5-string min-wise family is engine-reproducible,
    so even this approximate pipeline has a bit-exact oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_neardup(
        docs, n=3, n_hashes=8, rows_per_band=2, threshold=0.5
    )


# DuckDB twin of simhash64 → simhash_near_pairs (60-bit SimHash, 4×15-bit
# pigeonhole banding, Hamming ≤ 3 verify), ending in the verified pair set
# ``sp`` — shared by the pair row and the triangle/transitivity row built
# on the same graph (MATERIALIZED: sp feeds one consumer there but THREE
# in the triangle oracle's self-joins)
_SIMHASH_PAIR_CTES = f"""tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS w
        FROM documents
    ), hs AS (
        SELECT doc_id, substring(md5(w), 1, 15) AS hx FROM tok
    ), h AS (
        SELECT doc_id, {hex_prefix_bigint('hx', 15)} AS hv FROM hs
    ), bits AS (
        SELECT doc_id, b.bit,
               SUM(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM h, (SELECT unnest(range(60)) AS bit) b
        GROUP BY doc_id, b.bit
    ), sig AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
        FROM bits GROUP BY doc_id
    ), blocked AS (
        SELECT doc_id, simhash, b.blk, (simhash >> (15 * b.blk)) & 32767 AS block_val
        FROM sig, (SELECT unnest(range(4)) AS blk) b
    ), sp AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM blocked a
        JOIN blocked b ON a.blk = b.blk AND a.block_val = b.block_val
                      AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    )"""


@register(
    "simhash_near_pairs",
    oracle=f"""
    WITH {_SIMHASH_PAIR_CTES}
    SELECT doc_a, doc_b, hamming FROM sp
    """,
    # r9 window rotation: promoted INTO the driver window (zero prior
    # driver history; X2's SimHash half gets external verification)
    # rows: neardup_minhash_lsh + neardup_embedding_cosine + components
)
def simhash_near_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (X2): 60-bit token-level SimHash, pigeonhole
    banding (4 × 15-bit blocks — complete recall at Hamming ≤ 3),
    bit_count(xor) verification.  The md5-derived fingerprint is
    bit-identical across engines, so even the bit arithmetic is
    differential-tested; planted-fixture unit tests cover behavior
    (tests/test_extensions.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(simhash64(docs), max_hamming=3)


@register(
    "neardup_truss_components",
    oracle=f"""
    WITH RECURSIVE {_SIMHASH_PAIR_CTES},
    tri AS MATERIALIZED (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM sp e1
        JOIN sp e2 ON e2.doc_a = e1.doc_b
        JOIN sp e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    sup AS (
        SELECT u, v, COUNT(*) AS s FROM (
            SELECT a AS u, b AS v FROM tri
            UNION ALL SELECT a AS u, c AS v FROM tri
            UNION ALL SELECT b AS u, c AS v FROM tri
        ) GROUP BY u, v
    ),
    edges AS (
        SELECT u AS src, v AS dst FROM sup WHERE s >= 1
        UNION
        SELECT v AS src, u AS dst FROM sup WHERE s >= 1
    ),
    enodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM enodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    allnodes AS (SELECT doc_a AS node FROM sp UNION SELECT doc_b AS node FROM sp)
    SELECT n.node AS doc_id, COALESCE(MIN(r.lbl), n.node) AS component
    FROM allnodes n LEFT JOIN reach r ON r.node = n.node
    GROUP BY n.node
    ORDER BY doc_id
    """,
    extra=True,  # new r11: zero driver history — rotation candidate
)
def neardup_truss_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoised near-dup clustering (X2): drop every SimHash pair that
    closes ZERO triangles (``operators.graph.triangle_support`` — the
    single-round core of k-truss peeling), then canonicalize components
    over the surviving edges.  Bridge edges are unsupported transitive
    evidence — one borderline match chaining two template families — and
    min-label propagation would glue everything they touch: on the sf0.01
    graph the raw 2932 edges merge into 9 giant clusters, while removing
    the 52 support-0 bridges yields 46.  Every document of the ORIGINAL
    pair graph stays in the output (denoised-out docs become singletons —
    a denoiser must not silently drop rows).  The oracle re-derives the
    pair set, enumerates canonical triangles, filters by support, and
    closes components with the same recursive min-label CTE the
    components row uses."""
    from ..operators.dedup import neardup_components
    from ..operators.graph import triangle_support

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(simhash64(docs), max_hamming=3)
    kept = triangle_support(pairs, src_col="doc_a", dst_col="doc_b").filter(
        F.col("support") >= 1
    )
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    comp = neardup_components(
        kept.select(F.col("lo").alias("doc_a"), F.col("hi").alias("doc_b")),
        nodes,
    )
    return comp.select("doc_id", "component").orderBy("doc_id")


def _truss_peel_oracle_sql(k: int, n_rounds: int) -> str:
    """Unroll ``truss_peel``'s fixed peel rounds as chained CTEs (the
    ``_pagerank_oracle_sql`` discipline): each round enumerates canonical
    triangles over the current edge set, counts per-edge support, and
    keeps edges with support ≥ k−2; a final support pass prices the
    survivors.  Every CTE is MATERIALIZED — each e{{r}} feeds the next
    round's three-way self-join (plain CTEs would inline the whole
    upstream subtree per reference)."""
    parts = [
        f"WITH {_SIMHASH_PAIR_CTES},",
        "e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM sp)",
    ]
    for r in range(1, n_rounds + 1):
        p = f"e{r - 1}"
        parts.append(
            f""",
t{r} AS MATERIALIZED (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM {p} e1
    JOIN {p} e2 ON e2.u = e1.v
    JOIN {p} e3 ON e3.u = e1.u AND e3.v = e2.v
),
s{r} AS MATERIALIZED (
    SELECT u, v, COUNT(*) AS s FROM (
        SELECT a AS u, b AS v FROM t{r}
        UNION ALL SELECT a AS u, c AS v FROM t{r}
        UNION ALL SELECT b AS u, c AS v FROM t{r}
    ) GROUP BY u, v
),
e{r} AS MATERIALIZED (
    SELECT e.u, e.v FROM {p} e
    JOIN s{r} s ON s.u = e.u AND s.v = e.v
    WHERE s.s >= {k - 2}
)"""
        )
    last = f"e{n_rounds}"
    parts.append(
        f""",
tf AS MATERIALIZED (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM {last} e1
    JOIN {last} e2 ON e2.u = e1.v
    JOIN {last} e3 ON e3.u = e1.u AND e3.v = e2.v
),
sf AS (
    SELECT u, v, COUNT(*) AS s FROM (
        SELECT a AS u, b AS v FROM tf
        UNION ALL SELECT a AS u, c AS v FROM tf
        UNION ALL SELECT b AS u, c AS v FROM tf
    ) GROUP BY u, v
)
SELECT e.u AS doc_a, e.v AS doc_b, COALESCE(sf.s, 0) AS support
FROM {last} e LEFT JOIN sf ON sf.u = e.u AND sf.v = e.v
ORDER BY doc_a, doc_b"""
    )
    return "".join(parts)


_TRUSS_K = 4
_TRUSS_ROUNDS = 3  # converged on the sf0.01 graph (2932 → 2828 → 2827 →
# fixpoint); the row's semantics are the FIXED 3 rounds, deterministic at
# any scale whether or not 3 rounds converge there (pagerank_fixed model)


@register(
    "neardup_truss_peel",
    oracle=_truss_peel_oracle_sql(_TRUSS_K, _TRUSS_ROUNDS),
    extra=True,  # new r11: zero driver history — rotation candidate
)
def neardup_truss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the SimHash near-dup graph by 3 fixed peel rounds
    (X2 denoising, graded): every surviving pair is embedded in ≥ 2
    triangles OF THE SURVIVING GRAPH — peeling re-measures support on
    survivors, so weakly-chained cliques unravel where the one-shot
    support filter (``neardup_truss_components``) would keep them.
    Iterative like pagerank/components (one oriented triangle enumeration
    per round, lineage truncated); fixed rounds make it oracle-exact:
    the DuckDB twin unrolls the same 3 rounds + final support pass as
    chained CTEs.  Survivor support lands in the output, so a
    not-yet-converged graph is readable, not hidden."""
    from ..operators.graph import truss_peel

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(simhash64(docs), max_hamming=3)
    out = truss_peel(
        pairs, k=_TRUSS_K, n_rounds=_TRUSS_ROUNDS,
        src_col="doc_a", dst_col="doc_b",
    )
    return out.select(
        F.col("lo").alias("doc_a"), F.col("hi").alias("doc_b"), "support"
    ).orderBy("doc_a", "doc_b")


@register(
    "neardup_triangle_stats",
    oracle=f"""
    WITH {_SIMHASH_PAIR_CTES},
    und AS (SELECT doc_a AS node FROM sp UNION ALL SELECT doc_b AS node FROM sp),
    deg AS (SELECT node, COUNT(*) AS degree FROM und GROUP BY node),
    tri AS MATERIALIZED (
        -- canonical doc_a < doc_b pairs ⇒ each triangle a < b < c appears
        -- exactly once as (a,b) ⋈ (b,c) closed by (a,c)
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM sp e1
        JOIN sp e2 ON e2.doc_a = e1.doc_b
        JOIN sp e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri
    ),
    tc AS (SELECT node, COUNT(*) AS triangles FROM corners GROUP BY node)
    SELECT d.node AS doc_id,
           d.degree,
           COALESCE(t.triangles, 0) AS triangles,
           CASE WHEN d.degree > 1
                THEN (CAST(2 AS DOUBLE) * COALESCE(t.triangles, 0))
                     / (d.degree * (d.degree - 1))
                ELSE CAST(0 AS DOUBLE) END AS clustering
    FROM deg d LEFT JOIN tc t ON t.node = d.node
    ORDER BY doc_id
    """,
    extra=True,  # new r11: zero driver history — rotation candidate; the
    # graph family's driver rows stay pagerank_copurchase + components
)
def neardup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count + local clustering coefficient of the
    SimHash near-dup graph (X2 diagnostic): transitivity distinguishes
    tight duplication cliques (template families, mirrored sites —
    clustering → 1.0) from chain-shaped borderline matches that connected-
    components would over-merge (clustering → 0).  Exact counting via
    degree-ordered orientation (``operators.graph.triangle_stats`` — the
    O(m^{3/2}) wedge bound that survives power-law hubs); the oracle
    re-derives the identical pair set and enumerates canonical-ordered
    triangles directly, so counts AND the integer-division-exact
    coefficients are bit-comparable.  Clustering doctrine per the module
    header: both division operands are exact integers, one IEEE op."""
    from ..operators.graph import triangle_stats

    docs = load_table(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(simhash64(docs), max_hamming=3)
    return (
        triangle_stats(pairs, src_col="doc_a", dst_col="doc_b")
        .select(
            F.col("node").alias("doc_id"), "degree", "triangles", "clustering"
        )
        .orderBy("doc_id")
    )


@register(
    "lang_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(n_chars) AS BIGINT) * 1.0 / COUNT(*), 2) AS avg_chars,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    extra=True,  # corpus-profile extra; X4 driver rows: doc_metrics, term-stats
    # family via string_similarity_pairs + the dedup pipeline
)
def lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (X4)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.sum("n_chars") * F.lit(1.0) / F.count("*"), 2).alias("avg_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
        .orderBy("lang")
    )


_STOP_EN = ("the", "and", "of", "to", "in")
_STOP_ES = ("el", "la", "de", "que", "y")
_STOP_DE = ("der", "die", "und", "das", "ist")


@register(
    "lang_id_heuristic",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ), scores AS (
        SELECT doc_id,
               COUNT(CASE WHEN w IN {_STOP_EN} THEN 1 END) AS s_en,
               COUNT(CASE WHEN w IN {_STOP_ES} THEN 1 END) AS s_es,
               COUNT(CASE WHEN w IN {_STOP_DE} THEN 1 END) AS s_de
        FROM tok GROUP BY doc_id
    )
    SELECT doc_id, s_en, s_es, s_de,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS pred_lang
    FROM scores
    """,
    extra=True,  # driver row carried by doc_metrics (same scores, narrow layout)
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (X4): token-set membership counts per
    language with a fixed tie-break order — the n-gram-heuristic family,
    fully relational (explode + conditional counts, no UDF)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(docs).select("doc_id", F.explode("ws").alias("w"))
    scores = tok.groupBy("doc_id").agg(
        F.count(F.when(F.col("w").isin(*_STOP_EN), 1)).alias("s_en"),
        F.count(F.when(F.col("w").isin(*_STOP_ES), 1)).alias("s_es"),
        F.count(F.when(F.col("w").isin(*_STOP_DE), 1)).alias("s_de"),
    )
    return scores.select(
        "doc_id",
        "s_en",
        "s_es",
        "s_de",
        F.when((F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de")), "en")
        .when(F.col("s_es") >= F.col("s_de"), "es")
        .otherwise("de")
        .alias("pred_lang"),
    )


@register(
    "doc_quality_scores",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws, length(text) AS chars
        FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
           ROUND(len(list_distinct(ws)) / len(ws), 6) AS distinct_ratio,
           ROUND((chars - (len(ws) - 1)) / len(ws), 6) AS avg_token_len,
           ROUND(0.6 * (len(list_distinct(ws)) / len(ws))
                 + 0.4 * least(1.0, len(ws) / 200.0), 6) AS quality_score
    FROM t
    """,
    extra=True,  # driver row carried by doc_metrics (per-doc superset)
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring (X4): token count, vocabulary diversity,
    mean token length, and a weighted quality score — the
    length/punct/stopword-ratio family as pure column arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(docs).select("doc_id", "ws", F.length("text").alias("chars"))
    n_tok = F.size("ws").cast("bigint")
    n_dis = F.size(F.array_distinct("ws")).cast("bigint")
    ratio = n_dis / n_tok
    return t.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct"),
        F.round(ratio, 6).alias("distinct_ratio"),
        F.round((F.col("chars") - (n_tok - 1)) / n_tok, 6).alias("avg_token_len"),
        F.round(
            0.6 * ratio + 0.4 * F.least(F.lit(1.0), n_tok / F.lit(200.0)), 6
        ).alias("quality_score"),
    )


@register(
    "token_count_regex",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]'))) AS BIGINT)
               AS total_tokens,
           ROUND(CAST(SUM(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]'))) AS BIGINT)
                 * 1.0 / COUNT(*), 2) AS avg_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    extra=True,  # driver row carried by doc_metrics (per-doc regex token counts)
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (X4): alphanumeric runs + single non-space
    symbols — the pre-tokenizer regex family, counted per source."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n).alias("total_tokens"),
            F.round(F.sum(n) * F.lit(1.0) / F.count("*"), 2).alias("avg_tokens"),
        )
        .orderBy("source")
    )


@register(
    "doc_metrics",
    extra=True,  # r5: rotated OUT of the driver window (>=3 green rounds)
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, string_split(lower(text), ' ') AS ws,
               length(text) AS chars
        FROM documents
    ), m AS (
        SELECT doc_id,
               md5(lower(text)) AS fp_full,
               md5(array_to_string(ws[1:8], ' ')) AS fp_prefix,
               CAST(len(ws) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
               ROUND(len(list_distinct(ws)) / len(ws), 6) AS distinct_ratio,
               ROUND((chars - (len(ws) - 1)) / len(ws), 6) AS avg_token_len,
               ROUND(0.6 * (len(list_distinct(ws)) / len(ws))
                     + 0.4 * least(1.0, len(ws) / 200.0), 6) AS quality_score,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]'))
                    AS BIGINT) AS n_regex_tokens,
               CAST(len(list_filter(ws, w -> w IN {_STOP_EN})) AS BIGINT) AS s_en,
               CAST(len(list_filter(ws, w -> w IN {_STOP_ES})) AS BIGINT) AS s_es,
               CAST(len(list_filter(ws, w -> w IN {_STOP_DE})) AS BIGINT) AS s_de
        FROM t
    )
    SELECT *,
           CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_de THEN 'es'
                ELSE 'de' END AS pred_lang
    FROM m
    """,
)
def doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document text-analysis battery (X4) as ONE covering query:
    fingerprints (whole-text + opening-8-token hash), quality scores (token
    count, vocabulary diversity, mean token length, weighted score), BPE-ish
    regex token count, and stopword-hit language ID — every metric a narrow
    column expression over the token array (array_distinct / filter / size
    higher-order ops), so the whole battery is a single codegen projection
    with ZERO shuffles: the layout that matters at 100 TB, where each of the
    four separate passes would re-scan the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    t = tokens(docs).select("doc_id", "text", "ws", F.length("text").alias("chars"))
    n_tok = F.size("ws").cast("bigint")
    n_dis = F.size(F.array_distinct("ws")).cast("bigint")
    ratio = n_dis / n_tok
    n_regex = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0)
    ).cast("bigint")

    def stop_hits(words: tuple[str, ...]):
        return F.size(F.filter("ws", lambda w: w.isin(*words))).cast("bigint")

    m = t.select(
        "doc_id",
        F.md5(F.lower("text").cast("binary")).alias("fp_full"),
        F.md5(F.concat_ws(" ", F.slice("ws", 1, 8)).cast("binary")).alias("fp_prefix"),
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct"),
        F.round(ratio, 6).alias("distinct_ratio"),
        F.round((F.col("chars") - (n_tok - 1)) / n_tok, 6).alias("avg_token_len"),
        F.round(
            0.6 * ratio + 0.4 * F.least(F.lit(1.0), n_tok / F.lit(200.0)), 6
        ).alias("quality_score"),
        n_regex.alias("n_regex_tokens"),
        stop_hits(_STOP_EN).alias("s_en"),
        stop_hits(_STOP_ES).alias("s_es"),
        stop_hits(_STOP_DE).alias("s_de"),
    )
    return m.withColumn(
        "pred_lang",
        F.when((F.col("s_en") >= F.col("s_es")) & (F.col("s_en") >= F.col("s_de")), "en")
        .when(F.col("s_es") >= F.col("s_de"), "es")
        .otherwise("de"),
    )


@register(
    "string_similarity_pairs",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM customer a
    JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND length(a.c_name) = length(b.c_name)
     AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
    extra=True,  # r4 rotation: the X4 family keeps four driver rows
    # (doc_metrics, doc_quality_battery, bm25, passage dedup); this slot
    # goes to DSIR importance weighting, the round's data-selection flagship
)
def string_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity join (PAPERS.md: string similarity search/join) via
    deletion-neighborhood signatures: any two strings within edit distance 1
    share a member of {s} ∪ {s minus one char}, so candidates come from an
    equi-join on (nation, length, signature) — O(n × len) signature rows
    instead of all within-bucket pairs — then native levenshtein verifies.
    The original string length rides IN the join key (same-length pairs is
    part of the query's semantics), so non-matching lengths never become
    candidate rows at all — pruned before the distinct, not filtered after.
    The same layout scales to distance d with d-deletion neighborhoods."""
    cust = load_table(spark, sf_dir, "customer")
    name = F.col("c_name")
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(name)),
        lambda i: F.concat(
            name.substr(F.lit(1), i - 1), name.substr(i + 1, F.length(name))
        ),
    )
    sigs = cust.select(
        F.col("c_custkey").alias("key"),
        name.alias("name"),
        F.col("c_nationkey").alias("nk"),
        F.length(name).alias("len"),
        F.explode(F.array_union(F.array(name), deletions)).alias("sig"),
    ).persist()  # feeds both sides of the candidate self-join
    a = sigs.select(
        F.col("key").alias("key_a"), F.col("name").alias("name_a"), "nk", "len", "sig"
    )
    b = sigs.select(
        F.col("key").alias("key_b"), F.col("name").alias("name_b"), "nk", "len", "sig"
    )
    cand = (
        a.join(b, ["nk", "len", "sig"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
    )
    return (
        cand.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", "name_a", "name_b", "edit_dist")
    )


@register(
    "term_stats_top",
    oracle="""
    WITH tok AS (
        SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ), stats AS (
        SELECT lang, w, COUNT(*) AS tf
        FROM tok WHERE length(w) >= 4
        GROUP BY lang, w
    )
    SELECT lang, w AS term, tf, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY tf DESC, w) AS rnk
        FROM stats
    )
    WHERE rnk <= 10
    """,
    extra=True,  # corpus term-stats extra (explode+agg+topk all driver-green
    # elsewhere: doc_metrics, q10, latest_event_per_user)
)
def term_stats_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics (X4: explode → groupBy().count() term stats):
    top-10 terms (≥4 chars) per language by frequency.  Two shuffles —
    term-count agg then per-lang top-k window; at 100 TB the agg output is
    |vocabulary|, which is what makes corpus-wide term stats tractable."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(docs).select("lang", F.explode("ws").alias("w"))
    stats = (
        tok.filter(F.length("w") >= 4)
        .groupBy("lang", "w")
        .agg(F.count("*").alias("tf"))
    )
    rn = F.row_number().over(W.partitionBy("lang").orderBy(F.desc("tf"), F.asc("w")))
    return (
        stats.withColumn("rnk", rn)
        .filter(F.col("rnk") <= 10)
        .select("lang", F.col("w").alias("term"), "tf", "rnk")
    )


@register(
    "neardup_components_canonical",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CTE},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM ver WHERE jaccard >= 0.5
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM ver WHERE jaccard >= 0.5
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(lbl) AS component
    FROM reach GROUP BY node
    """,
)
def neardup_components_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment (the keep/drop step after pair finding):
    connected components over Jaccard-0.5 pairs via iterative min-label
    propagation — component id = smallest doc_id in the cluster, i.e. the
    canonical document.  The oracle re-derives components with a recursive
    transitive-closure CTE, so even the iterative algorithm is
    differential-tested."""
    from ..operators.dedup import neardup_components

    docs = load_table(spark, sf_dir, "documents")
    # pairs feeds four plan branches (edges forward+reversed, nodes a+b) —
    # without persist the whole shingle⋈shingle pair join runs four times;
    # sh feeds the shared-shingle join three times (both sides, the sizes)
    sh = shingles(docs).persist()
    pairs = jaccard_pairs(sh, threshold=0.5).select("doc_a", "doc_b").persist()
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    comp = neardup_components(pairs, nodes)
    # the component labels are eagerly checkpointed inside
    # neardup_components, so the returned frame no longer depends on the
    # caches — release them instead of leaking them for the session's life
    sh.unpersist()
    pairs.unpersist()
    return comp


@register(
    "doc_quality_battery",
    extra=True,  # r10: rotated OUT of the driver window (6 green rounds
    # r4-r9; X4 stays driver-covered by bm25/unigram_lm/ccnet/cmsketch)
    oracle="""
    WITH tok AS (
        SELECT doc_id, text, string_split(lower(text), ' ') AS ws FROM documents
    ),
    g AS (
        SELECT doc_id,
               greatest(len(ws) - 2, 0) AS total_3grams,
               CASE WHEN len(ws) >= 3 THEN (
                   SELECT COUNT(DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                   FROM (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) t
               ) ELSE 0 END AS distinct_3grams
        FROM tok
    )
    SELECT tok.doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CASE WHEN total_3grams > 0
                THEN CAST(total_3grams - distinct_3grams AS DOUBLE) / total_3grams
                ELSE CAST(0.0 AS DOUBLE) END AS rep_3gram_ratio,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
               / length(text) AS digit_ratio,
           CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
               / length(text) AS upper_ratio,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT) AS n_urls,
           CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS INT) AS n_emails,
           (len(ws) >= 10 AND len(ws) <= 1000
            AND CASE WHEN total_3grams > 0
                     THEN CAST(total_3grams - distinct_3grams AS DOUBLE) / total_3grams
                     ELSE 0.0 END <= 0.2) AS quality_pass
    FROM tok JOIN g ON tok.doc_id = g.doc_id
    """,
    # r4: rotated INTO the driver window — the Gopher-style repetition/ratio/
    # PII filter battery joins doc_metrics as a second X4 driver row
)
def doc_quality_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition- and ratio-based quality/safety filters (the
    MassiveText/Gopher heuristics a pretraining pipeline applies before
    dedup): repeated-3-gram fraction, digit/uppercase character ratios,
    URL/email counts (PII + boilerplate signal), and the combined
    quality_pass gate.  Every measure is a narrow single-pass column
    expression — the whole battery runs shuffle-free over the corpus scan,
    so it costs one read at any scale."""
    from ..operators.quality import gopher_repetition_columns

    docs = load_table(spark, sf_dir, "documents")
    # The gate inputs come staged as columns from the shared helper (the
    # curation pipeline's stage-1 gate is the same implementation) — see
    # gopher_repetition_columns for why staging is load-bearing (the
    # HOF-lambda re-evaluation trap, PERFORMANCE.md round 6).
    staged = gopher_repetition_columns(
        docs.select("doc_id", "text"), n_words_col="n_words", rep_col="rep"
    )
    txt_len = F.length("text")
    digit_ratio = (
        txt_len - F.length(F.regexp_replace("text", "[0-9]", ""))
    ).cast("double") / txt_len
    upper_ratio = (
        txt_len - F.length(F.regexp_replace("text", "[A-Z]", ""))
    ).cast("double") / txt_len
    return staged.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("rep").alias("rep_3gram_ratio"),
        digit_ratio.alias("digit_ratio"),
        upper_ratio.alias("upper_ratio"),
        F.regexp_count("text", F.lit("https?://[^ ]+")).cast("int").alias("n_urls"),
        F.regexp_count("text", F.lit("[a-z0-9.]+@[a-z0-9.]+")).cast("int").alias("n_emails"),
        (
            (F.col("n_words") >= 10)
            & (F.col("n_words") <= 1000)
            & (F.col("rep") <= 0.2)
        ).alias("quality_pass"),
    )


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 15) -> DataFrame:
    """BM25 (k1=1.2, b=0.75) top-k over ``docs`` for the given query terms —
    the single definition both the registry row (`bm25_retrieval_topk`) and
    the scaling probe (`tools/scaling_probe.py --text`) execute, so the
    probe always measures the layout the registry actually ships.  See the
    registry row's docstring for the distributed-layout rationale."""
    from pyspark.sql.window import Window as W

    tok = tokens(docs)
    dl = tok.select("doc_id", F.size("ws").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        tok.select("doc_id", F.explode("ws").alias("w"))
        .filter(F.col("w").isin(terms))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "w").join(dl, "doc_id").crossJoin(
        F.broadcast(stats)
    )
    tfd = F.col("tf").cast("double")
    idf = F.ln(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = tfd + F.lit(1.2) * (
        F.lit(1) - F.lit(0.75) + F.lit(0.75) * F.col("dl") / F.col("avgdl")
    )
    term_score = (idf * tfd * F.lit(2.2) / denom).cast("decimal(20,10)")
    agg = scored.groupBy("doc_id").agg(
        F.sum(term_score).alias("s"), F.count("*").alias("n_terms_hit")
    )
    score = F.round(F.col("s").cast("double"), 4)
    rn = F.row_number().over(W.orderBy(F.desc("score"), F.asc("doc_id")))
    return (
        agg.select(
            "doc_id",
            F.col("n_terms_hit").cast("int").alias("n_terms_hit"),
            score.alias("score"),
        )
        .withColumn("rnk", rn)
        .filter(F.col("rnk") <= k)
    )


@register(
    "bm25_retrieval_topk",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    dl AS (SELECT doc_id, len(ws) AS dl FROM tok),
    stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
              FROM dl),
    tf AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(ws) AS w FROM tok)
        WHERE w IN ('spark', 'vector', 'merge', 'stream')
        GROUP BY doc_id, w
    ),
    dfreq AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY w),
    scored AS (
        SELECT t.doc_id,
               CAST(ln(1.0 + (CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
                           / (CAST(d.df AS DOUBLE) + 0.5))
                    * t.tf * 2.2
                    / (t.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / s.avgdl))
                    AS DECIMAL(20, 10)) AS term_score
        FROM tf t
        JOIN dfreq d USING (w)
        JOIN dl l ON l.doc_id = t.doc_id
        CROSS JOIN stats s
    ),
    agg AS (SELECT doc_id, SUM(term_score) AS s, COUNT(*) AS n_terms_hit
            FROM scored GROUP BY doc_id)
    SELECT doc_id, CAST(n_terms_hit AS INT) AS n_terms_hit,
           round(CAST(s AS DOUBLE), 4) AS score, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT *, row_number() OVER (
            ORDER BY round(CAST(s AS DOUBLE), 4) DESC, doc_id) AS rnk
        FROM agg
    )
    WHERE rnk <= 15
    """,
    # r4: rotated INTO the driver window (X4 relevance ranking — round-3
    # flagship, previously CI-exact-gated as an extra)
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed 4-term query over
    the corpus: the text-retrieval shape an LLM-data pipeline uses for
    decontamination probes and quality-targeted sampling.

    Distributed layout: postings are built by explode -> filter to the query
    terms BEFORE the tf agg (the filter prunes ~all token rows map-side, so
    the shuffle carries only query-term postings); document frequencies and
    the corpus stats row are tiny aggregates broadcast back onto the
    postings; one hash-agg sums per-doc term scores.  Per-term scores pass
    through DECIMAL(20,10) so the per-doc SUM is order-independent (the
    addition order of a parallel double sum is not), then round to 4
    decimals on output.  The final top-15 is rank-limited: Catalyst rewrites
    the row_number-then-filter into Sort + LocalLimit(15)/GlobalLimit(15)
    BELOW the window (verified in the optimized plan), so each partition
    forwards 15 rows and the single-partition window ranks exactly 15 —
    O(k x partitions) moves, not O(corpus).  avgdl is computed as exact
    integer SUM/COUNT, never a parallel double mean."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "vector", "merge", "stream"], k=15)


@register(
    "unigram_lm_typicality",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    vocab AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    total AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM vocab),
    scored AS (
        SELECT t.doc_id,
               CAST(ln(v.c / total.n) AS DECIMAL(20, 10)) AS logp
        FROM tok t JOIN vocab v USING (w) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 4) AS avg_logp,
           (round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 4) < -6.0) AS atypical
    FROM scored
    GROUP BY doc_id
    """,
    # r9 window rotation: promoted INTO the driver window (zero prior
    # driver history; the X4 statistical-LM filter family's first
    # external check)
    # rest of the text battery (driver X4 row: doc_metrics)
)
def unigram_lm_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model typicality score — the
    CCNet/Gopher-style statistical filter: per document, the mean token
    log-probability under the corpus's own unigram distribution; documents
    far below the mass of the distribution (rare-token soup, boilerplate,
    wrong-language fragments) flag ``atypical``.

    Two shuffles at any scale: token-count agg (vocabulary-sized output)
    and the per-doc score agg; the vocabulary rides back onto the token
    stream as an equi-join (broadcast when it fits, shuffle-hash when not).
    Per-token log-probs pass through DECIMAL(20,10) so the per-doc SUM is
    independent of parallel addition order — the oracle-parity trick; a
    production run keeps plain doubles and tolerates last-ulp drift."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(docs).select("doc_id", F.explode("ws").alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    logp = F.ln(F.col("c") / F.col("n")).cast("decimal(20,10)")
    scored = tok.join(vocab, "w").crossJoin(F.broadcast(total)).select(
        "doc_id", logp.alias("logp")
    )
    avg = F.round(F.sum("logp").cast("double") / F.count("*"), 4)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        avg.alias("avg_logp"),
        (avg < F.lit(-6.0)).alias("atypical"),
    )


@register(
    "passage_dedup_chunks",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    pos AS (
        SELECT doc_id, i, ws[i] AS w,
               CASE WHEN i >= 3
                         AND substr(md5(ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]), 1, 1) = '0'
                    THEN 1 ELSE 0 END AS boundary
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, len(ws))) AS i
        ) t
    ),
    chunked AS (
        SELECT doc_id, i, w,
               SUM(boundary) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS chunk_id
        FROM pos
    ),
    chunks AS (
        SELECT doc_id, COALESCE(chunk_id, 0) AS chunk_id,
               md5(string_agg(w, ' ' ORDER BY i)) AS chunk_hash,
               COUNT(*) AS n_words
        FROM chunked GROUP BY doc_id, COALESCE(chunk_id, 0)
    )
    SELECT chunk_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(doc_id) AS keep_doc,
           CAST(MIN(n_words) AS BIGINT) AS n_words
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(DISTINCT doc_id) > 1
    """,
    # r4: rotated INTO the driver window — passage-granularity dedup joins the
    # document-granularity rows (dedup_exact_content, neardup_minhash_lsh)
)
def passage_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup via content-defined chunking — the crawl-overlap
    shape document-granularity dedup misses: two distinct pages sharing a
    boilerplate or quoted passage.  Chunk boundaries are CONTENT-DEFINED
    (after any word whose trailing 3-gram md5 starts with '0' -> expected
    chunk ~16 words), so insertions shift boundaries only locally and
    shared passages chunk identically in different documents — the Rabin
    fingerprinting idea from dedup storage systems, at word granularity.

    Distributed shape: posexplode to the token stream, a PARTITION BY doc
    running sum assigns chunk ids (partition-local window, never global),
    one agg rebuilds chunk hashes, one agg groups identical chunks across
    the corpus.  Everything is linear in corpus size; the cross-doc group
    key is the 32-char chunk hash, never the text."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window as W

    tok = tokens(docs).select(
        "doc_id", F.posexplode("ws").alias("i0", "w"),
        F.col("ws").alias("ws_full"),
    ).select(
        "doc_id", (F.col("i0") + 1).alias("i"), "w",
        F.when(
            (F.col("i0") + 1 >= 3)
            & (
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.col("ws_full")[F.col("i0") - 2],
                            F.col("ws_full")[F.col("i0") - 1],
                            F.col("ws_full")[F.col("i0")],
                        ).cast("binary")
                    ),
                    1, 1,
                )
                == "0"
            ),
            1,
        ).otherwise(0).alias("boundary"),
    )
    cum = W.partitionBy("doc_id").orderBy("i").rowsBetween(W.unboundedPreceding, -1)
    chunked = tok.select(
        "doc_id", "i", "w",
        F.coalesce(F.sum("boundary").over(cum), F.lit(0)).alias("chunk_id"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).cast("binary")
        ).alias("chunk_hash"),
        F.count("*").alias("n_words"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("keep_doc"),
            F.min("n_words").alias("n_words"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "ccnet_perplexity_buckets",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    vocab AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    total AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM vocab),
    scored AS (
        SELECT t.doc_id, t.lang,
               CAST(ln(v.c / total.n) AS DECIMAL(20, 10)) AS logp
        FROM tok t JOIN vocab v USING (w) CROSS JOIN total
    ),
    perdoc AS (
        SELECT doc_id, lang,
               round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 4) AS avg_logp
        FROM scored GROUP BY doc_id, lang
    ),
    ranked AS (
        SELECT doc_id, lang, avg_logp,
               percent_rank() OVER (
                   PARTITION BY lang ORDER BY avg_logp DESC, doc_id
               ) AS pr
        FROM perdoc
    )
    SELECT doc_id, lang, avg_logp,
           round(pr, 6) AS pr,
           CASE WHEN pr < 1.0/3 THEN 'head'
                WHEN pr < 2.0/3 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
    # r9 window rotation: promoted INTO the driver window (zero prior
    # driver history; CCNet-style perplexity bucketing external check)
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity stratification (Wenzek et al. 2020): rank
    every document WITHIN ITS LANGUAGE by LM typicality (here the corpus
    unigram LM stands in for CCNet's KenLM; most-typical first) and cut
    each language into head / middle / tail terciles — the published
    recipe for quality-stratified corpus partitioning, where pretraining
    recipes keep head+middle or reweight buckets.  Per-language ranking
    matters: absolute perplexity is not comparable across languages, so a
    global cut would empty low-resource buckets.

    100 TB shape: the LM scoring is the unigram_lm_typicality layout (two
    shuffles, vocabulary-sized agg broadcast back); the percent_rank
    window is PARTITION BY lang — a hash-partitioned exchange, never a
    single-partition global sort (q10b's scale rule); ties broken by
    doc_id so the tercile cut is deterministic on both engines."""
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = tokens(docs).select("doc_id", "lang", F.explode("ws").alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    logp = F.ln(F.col("c") / F.col("n")).cast("decimal(20,10)")
    scored = tok.join(vocab, "w").crossJoin(F.broadcast(total)).select(
        "doc_id", "lang", logp.alias("logp")
    )
    perdoc = scored.groupBy("doc_id", "lang").agg(
        F.round(F.sum("logp").cast("double") / F.count("*"), 4).alias("avg_logp")
    )
    w = W.partitionBy("lang").orderBy(F.desc("avg_logp"), F.asc("doc_id"))
    pr = F.percent_rank().over(w)
    return perdoc.select(
        "doc_id",
        "lang",
        "avg_logp",
        F.round(pr, 6).alias("pr"),
        F.when(pr < 1.0 / 3, "head")
        .when(pr < 2.0 / 3, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@register(
    "bpe_token_stats",
    oracle=None,  # the greedy BPE merge loop has no relational twin; the
    # merge sequence, round-trip reconstruction and determinism are
    # pytest-pinned on a hand-computed fixture (tests/test_tokenize.py)
    extra=True,  # r6: rotated back out of the driver window — the driver
    # can only count oracle-less rows (r5 `err: no_oracle`), so the slot
    # goes to an oracle-bearing extra; the fixture pins stay
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-dependent token counts (X4): train 64 BPE merges from the
    corpus's own word frequencies (top-500 words — the Zipf-sufficient
    training sample, collected as bounded model metadata), then segment
    every document with the greedy lowest-rank apply loop in Arrow batches.
    Per-language rollup: docs, words, BPE tokens, and the compression ratio
    tokens/words the packing planner consumes.  Eager like the curation
    pipeline: training collects word stats when the query is BUILT."""
    from ..operators.tokenize import bpe_tokenize, train_bpe, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(word_frequencies(docs), num_merges=64, vocab_limit=500)
    tok = bpe_tokenize(docs, merges)
    joined = tok.join(docs.select("doc_id", "lang"), "doc_id")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_words",
            "total_tokens",
            F.round(F.col("total_tokens") / F.col("total_words"), 6).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("lang")
    )


@register(
    "heavy_hitter_words",
    oracle="""
    WITH w AS (
        SELECT unnest(string_split_regex(lower(text), '[^a-z0-9'']+')) AS word
        FROM documents
    )
    SELECT word, COUNT(*) AS n_occurrences
    FROM w WHERE word <> ''
    GROUP BY word HAVING COUNT(*) >= 500
    """,
    extra=True,  # r8 window rotation: the sketch family's driver coverage
    # moves to the promoted cmsketch_word_counts (point frequency) and
    # kmv_customer_overlap (set ops); X4 stays driver-covered by
    # doc_quality_battery/bm25/duplicated_span_fraction/inverted_index/
    # word_vote + promoted winnow_fingerprint_pairs.  Driver-green r4-r7,
    # stays CI-exact-gated.
)
def heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent words via the Misra-Gries candidate → exact-verify pipeline
    (operators/heavyhitters.py): the sketch SELF-SIZES to k = ceil(2n/T)
    from a counting pass, so the completeness contract threshold > n/(k+1)
    holds at ANY scale factor (a fixed k that is valid at sf0.01 silently
    voids the guarantee at sf0.1 — caught in review, round 4).  Candidates
    are exact-counted with the verify shuffle confined to candidate keys;
    because the output is the TRUE heavy-hitter set with exact counts, the
    oracle is plain HAVING — the candidate-then-verify contract the LSH
    dedup rows use.  The sketch's undercount bound itself is stress-tested
    on a Zipf fixture in tests/test_operators.py."""
    from ..operators.heavyhitters import heavy_hitters_exact

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.lower("text"), r"[^a-z0-9']+")).alias("word")
    ).filter(F.col("word") != "")
    return heavy_hitters_exact(words, "word", threshold=500).orderBy("word")


@register(
    "chunk_documents_sliding",
    extra=True,
    oracle="""
    WITH starts AS (
        SELECT doc_id, lang, text, unnest(generate_series(1, len(text), 384)) AS start
        FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) / 384 AS BIGINT) AS chunk_id,
           lang,
           substring(text, start, 512) AS chunk_text,
           CAST(len(substring(text, start, 512)) AS INT) AS n_chars
    FROM starts
    """,
)
def chunk_documents_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (512 chars, 128 overlap → stride 384): the
    RAG/export counterpart of passage_dedup_chunks' content-defined split —
    fixed geometry for retrieval indexing where content-defined boundaries
    serve dedup.  Pure narrow plan: sequence() generates start offsets
    distributed (no Python, no shuffle; at 100 TB chunking is a map over
    the corpus), substring keeps byte-identical text so downstream
    embedding/BM25 rows join back on (doc_id, chunk_id)."""
    docs = load_table(spark, sf_dir, "documents")
    stride, size = 384, 512
    # empty/NULL text yields NO chunks — matching the oracle's
    # generate_series(1, len(text)), which is empty for len 0 or NULL (a
    # greatest(len, 1) guard here would emit a phantom empty chunk the
    # oracle doesn't; caught in review, round 4)
    starts = docs.filter(F.length("text") >= 1).select(
        "doc_id",
        "lang",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text"), F.lit(stride))
        ).alias("start"),
    )
    chunk = F.expr(f"substring(text, start, {size})")
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / stride).cast("long").alias("chunk_id"),
        "lang",
        chunk.alias("chunk_text"),
        F.length(chunk).alias("n_chars"),
    )


PII_EMAIL_RE = "[a-z0-9.]+@[a-z0-9.]+"
PII_URL_RE = "https?://[^ ]+"


def redact_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The redaction transform itself (shared by the registry row and the
    planted-fixture test, so the test exercises the REAL function): mask
    emails then URLs with typed tags, emit audit counts."""
    n_emails = F.regexp_count(text_col, F.lit(PII_EMAIL_RE)).cast("int")
    n_urls = F.regexp_count(text_col, F.lit(PII_URL_RE)).cast("int")
    return df.select(
        id_col,
        F.regexp_replace(
            F.regexp_replace(text_col, PII_EMAIL_RE, "<EMAIL>"), PII_URL_RE, "<URL>"
        ).alias(text_col),
        n_emails.alias("n_emails_redacted"),
        n_urls.alias("n_urls_redacted"),
    )


@register(
    "redact_pii_documents",
    extra=True,
    oracle="""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text, '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g') AS text,
           CAST(len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS INT)
               AS n_emails_redacted,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INT)
               AS n_urls_redacted
    FROM documents
    """,
)
def redact_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction as a TRANSFORM (doc_quality_battery only counts): mask
    emails then URLs with typed placeholder tags, emitting redaction counts
    for the curation audit trail over EVERY doc (clean text passes through
    byte-identical, so the differential also proves the redactor never
    mangles clean content; the sf corpus is PII-free, and the planted
    fixture in tests/test_extensions.py is where redaction actually
    fires).  Pure narrow plan: two JVM regexp_replace passes, no
    shuffle, no Python.  The email/URL patterns are exactly
    doc_quality_battery's, so gate and redactor agree on what PII is; both
    regexes stay in the Java∩RE2 common dialect so the oracle's
    regexp_replace(…,'g') is character-identical."""
    return redact_pii(load_table(spark, sf_dir, "documents"))


@register(
    "duplicated_span_fraction",
    extra=True,  # r10: rotated OUT of the driver window (5 green rounds
    # r5-r9; X2/X4 span family stays covered by winnow + minhash rows)
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    g8 AS (
        SELECT DISTINCT doc_id,
               list_aggregate(ws[i:i+7], 'string_agg', ' ') AS s
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS i
        ) t
    ),
    df AS (SELECT s, COUNT(DISTINCT doc_id) AS n_docs FROM g8 GROUP BY s)
    SELECT g8.doc_id,
           COUNT(*) AS n_spans,
           COUNT(*) FILTER (WHERE df.n_docs > 1) AS n_shared,
           CAST(COUNT(*) FILTER (WHERE df.n_docs > 1) AS DOUBLE) / COUNT(*)
               AS dup_span_frac
    FROM g8 JOIN df ON g8.s = df.s
    GROUP BY g8.doc_id
    """,
)
def duplicated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication signal (the Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better" diagnostic, word-8-gram
    approximation): for each doc, the fraction of its distinct 8-word spans
    that also occur in at least one OTHER document.  Long spans shared
    across docs are memorization fuel exact-doc and MinHash dedup both
    miss (a boilerplate paragraph inside otherwise-distinct pages).

    The span strings cross the wire exactly ONCE at any scale: one
    span-keyed ``collect_set(doc_id)`` aggregation (map-side partial
    dedup replaces the pre-shuffle ``distinct()``), then the doc sets
    explode back to (doc_id, shared?) int pairs for the tiny per-doc
    roll-up — never a pair join, and never a second exchange of the
    8-gram text (the earlier groupBy + join-back form shuffled the spans
    three times, 126 MB vs 40 MB at sf0.1 for identical output).  Skew
    caveat: a span shared by d docs makes one d-element set on its
    reducer — bounded by docs-per-span, and a boilerplate span hot enough
    to matter is itself the signal this diagnostic exists to surface; a
    100 TB run would cap the set at the (configurable) point where
    "shared" is already decided."""
    docs = load_table(spark, sf_dir, "documents")
    g8 = shingles(docs, n=8, distinct=False)
    per_span = g8.groupBy("s").agg(F.collect_set("doc_id").alias("ds"))
    per_doc = per_span.select(
        F.explode("ds").alias("doc_id"), (F.size("ds") > 1).alias("is_shared")
    )
    shared = F.sum(F.when(F.col("is_shared"), 1).otherwise(0))
    return per_doc.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        shared.alias("n_shared"),
        (shared.cast("double") / F.count("*")).alias("dup_span_frac"),
    )


@register(
    "inverted_index_postings",
    extra=True,  # r9 window rotation: demoted after 4 green driver rounds —
    # X4 keeps driver rows doc_quality_battery/bm25/duplicated_span/
    # cmsketch + the newly promoted LM pair; CI-exact-gated
    oracle="""
    WITH occ AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    d AS (SELECT DISTINCT term, doc_id FROM occ),
    p AS (
        SELECT term, COUNT(*) AS df,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
        FROM d GROUP BY term
    ),
    tf AS (SELECT term, COUNT(*) AS n_occurrences FROM occ GROUP BY term)
    SELECT p.term, p.df, tf.n_occurrences, p.postings
    FROM p JOIN tf ON p.term = tf.term
    ORDER BY p.df DESC, p.term
    LIMIT 40
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the retrieval-side twin of bm25_retrieval_topk,
    which consumes these statistics): per term, document frequency, total
    occurrences, and the sorted posting list of containing doc_ids —
    emitted here for the 40 highest-df terms (unique term tiebreaker).

    Scale shape: one explode + two term-keyed aggregations — posting lists
    build with a single shuffle keyed on the term.  At 100 TB a stop-word's
    posting row is unbounded, so the production layout shards postings into
    fixed-size blocks per term ((term, block_no) keys, the Lucene skip-list
    layout) and keeps df/tf stats exact as here; the capped top-40 emission
    keeps the registry row's output stable while exercising the same
    plan."""
    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    d = occ.select("term", "doc_id").distinct()
    p = d.groupBy("term").agg(
        F.count("*").alias("df"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
        ).alias("postings"),
    )
    tf = occ.groupBy("term").agg(F.count("*").alias("n_occurrences"))
    return (
        p.join(tf, "term")
        .select("term", "df", "n_occurrences", "postings")
        .orderBy(F.desc("df"), "term")
        .limit(40)
    )


@register(
    "word_vote_lang_classifier",
    extra=True,  # r9 window rotation: demoted after 4 green driver rounds —
    # see inverted_index_postings note; CI-exact-gated
    oracle="""
    WITH occ AS (
        SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    ),
    clw AS (SELECT lang, term, COUNT(*) AS n_lw FROM occ GROUP BY lang, term),
    cl AS (SELECT lang, COUNT(*) AS n_l FROM occ GROUP BY lang),
    vocab AS (SELECT COUNT(DISTINCT term) AS v FROM occ),
    terms AS (SELECT DISTINCT term FROM occ),
    rates AS (
        SELECT t.term, cl.lang,
               CAST(COALESCE(clw.n_lw, 0) + 1 AS DOUBLE) / (cl.n_l + vocab.v)
                   AS rate
        FROM terms t CROSS JOIN cl CROSS JOIN vocab
        LEFT JOIN clw ON clw.term = t.term AND clw.lang = cl.lang
    ),
    votes AS (
        SELECT term, lang AS vote_lang FROM (
            SELECT term, lang,
                   row_number() OVER (
                       PARTITION BY term ORDER BY rate DESC, lang
                   ) AS rn
            FROM rates
        ) WHERE rn = 1
    ),
    doc_votes AS (
        SELECT o.doc_id, v.vote_lang, COUNT(*) AS w
        FROM occ o JOIN votes v ON o.term = v.term
        GROUP BY o.doc_id, v.vote_lang
    ),
    pred AS (
        SELECT doc_id, vote_lang AS pred_lang FROM (
            SELECT doc_id, vote_lang,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY w DESC, vote_lang
                   ) AS rn
            FROM doc_votes
        ) WHERE rn = 1
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE p.pred_lang = d.lang) AS n_correct,
           CAST(COUNT(*) FILTER (WHERE p.pred_lang = d.lang) AS DOUBLE)
               / COUNT(*) AS accuracy
    FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY d.lang
    """,
)
def word_vote_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A learned-from-data language classifier trained DISTRIBUTED and
    log-free: Laplace-smoothed per-class word rates ((n_lw+1)/(n_l+V) —
    a single IEEE division of integer counts, bit-identical across
    engines, where summed log-probabilities would drift by libm ulps),
    each word votes for its maximum-rate class, and a document is
    classified by tf-weighted majority vote (exact integer weights).
    Output: per-language document counts and self-classification accuracy.

    Training is two count aggregations over one explode; the model (vote
    table) is vocabulary-bounded metadata, broadcast for the scoring join —
    the corpus shuffles once (doc-keyed vote aggregation) and never holds
    floats in accumulation, so the plan and the answer both survive 100 TB
    unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    occ = docs.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    clw = occ.groupBy("lang", "term").agg(F.count("*").alias("n_lw"))
    cl = occ.groupBy("lang").agg(F.count("*").alias("n_l"))
    vocab = occ.agg(F.countDistinct("term").alias("v"))
    terms = occ.select("term").distinct()
    rates = (
        terms.crossJoin(F.broadcast(cl))
        .crossJoin(F.broadcast(vocab))
        .join(clw, ["term", "lang"], "left")
        .select(
            "term",
            "lang",
            (
                (F.coalesce(F.col("n_lw"), F.lit(0)) + 1).cast("double")
                / (F.col("n_l") + F.col("v"))
            ).alias("rate"),
        )
    )
    win_t = W.partitionBy("term").orderBy(F.desc("rate"), F.asc("lang"))
    votes = (
        rates.withColumn("rn", F.row_number().over(win_t))
        .filter(F.col("rn") == 1)
        .select("term", F.col("lang").alias("vote_lang"))
    )
    doc_votes = (
        occ.join(F.broadcast(votes), "term")
        .groupBy("doc_id", "vote_lang")
        .agg(F.count("*").alias("w"))
    )
    win_d = W.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("vote_lang"))
    pred = (
        doc_votes.withColumn("rn", F.row_number().over(win_d))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("vote_lang").alias("pred_lang"))
    )
    correct = F.sum(
        F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
    )
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            correct.alias("n_correct"),
            (correct.cast("double") / F.count("*")).alias("accuracy"),
        )
    )


@register(
    "remove_duplicated_spans",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    pw AS (
        SELECT doc_id, i - 1 AS pos, ws[i] AS w
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, len(ws))) AS i
        ) t
    ),
    sp AS (
        SELECT doc_id, i - 1 AS i0,
               list_aggregate(ws[i:i+7], 'string_agg', ' ') AS s
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 7, 0))) AS i
        ) t
    ),
    dup AS (SELECT s FROM sp GROUP BY s HAVING COUNT(DISTINCT doc_id) > 1),
    cov AS (
        SELECT DISTINCT sp.doc_id, sp.i0 + d AS pos
        FROM sp JOIN dup USING (s), LATERAL (
            SELECT unnest(generate_series(0, 7)) AS d
        ) t
    ),
    kept AS (
        SELECT pw.doc_id, pw.pos, pw.w
        FROM pw LEFT JOIN cov ON pw.doc_id = cov.doc_id AND pw.pos = cov.pos
        WHERE cov.doc_id IS NULL
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(w, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT a.doc_id,
           CAST(len(t.ws) AS BIGINT) AS n_words,
           a.n_kept,
           CAST(len(t.ws) AS BIGINT) - a.n_kept AS n_removed,
           a.clean_text
    FROM agg a JOIN tok t USING (doc_id)
    """,
    extra=True,  # the TRANSFORM twin of driver row duplicated_span_fraction
)
def remove_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring deduplication as a TRANSFORM (Lee et al. 2021,
    word-8-gram form): rewrite each document with every word position
    covered by a cross-document duplicated span excised, emitting the
    cleaned text plus removal accounting.  This is the pass
    ``duplicated_span_fraction`` (the driver-checked triage view) decides
    to schedule: that row measures memorization fuel, this one burns it —
    boilerplate paragraphs shared across otherwise-distinct pages are cut
    from every host document while the surrounding prose survives.

    Scale shape: span-keyed aggregation to find cross-doc spans (the
    anti-monotone evidence join, never a doc-pair join), position expansion
    bounded at 8 rows per duplicated-span occurrence, a LEFT ANTI join to
    drop covered word positions, and one doc-keyed regroup to reassemble
    text — every shuffle keyed on span or doc_id, cost linear in corpus
    size.  Documents whose every position is covered drop from the output
    (nothing left to emit) on both engines identically.

    Determinism: word order is reassembled by explicit position sort
    (array_sort over (pos, word) structs / ``string_agg ... ORDER BY pos``)
    — never collection order."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split(F.lower("text"), " ").alias("ws"))
    pw = tok.select("doc_id", F.posexplode("ws").alias("pos", "w"))
    n = F.size("ws")
    idx = F.when(n >= 8, F.sequence(F.lit(0), n - 8)).otherwise(
        F.array().cast("array<int>")
    )
    sp = tok.select("doc_id", F.explode(idx).alias("i0"), "ws").select(
        "doc_id", "i0", F.concat_ws(" ", F.expr("slice(ws, i0 + 1, 8)")).alias("s")
    )
    dup = (
        sp.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("s")
    )
    cov = (
        sp.join(dup, "s")
        .select("doc_id", F.explode(F.sequence("i0", F.col("i0") + 7)).alias("pos"))
        .distinct()
    )
    agg = (
        pw.join(cov, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x["w"],
                ),
            ).alias("clean_text"),
        )
    )
    nw = tok.select("doc_id", F.size("ws").cast("bigint").alias("n_words"))
    return agg.join(nw, "doc_id").select(
        "doc_id",
        "n_words",
        "n_kept",
        (F.col("n_words") - F.col("n_kept")).alias("n_removed"),
        "clean_text",
    )


_CM_BUCKET = hex_prefix_bigint("h", 8)

_CM_ORACLE = f"""
    WITH occ AS (
        SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
    ),
    tf AS (SELECT term, COUNT(*) AS cnt FROM occ GROUP BY term),
    hx AS (
        SELECT term, cnt, j, md5('cm' || j || ':' || term) AS h
        FROM tf, LATERAL (SELECT unnest(generate_series(0, 3)) AS j) t
    ),
    hashes AS (
        SELECT term, cnt, j, {_CM_BUCKET} % 1024 AS bucket FROM hx
    ),
    cells AS (
        SELECT j, bucket, CAST(SUM(cnt) AS BIGINT) AS cell
        FROM hashes GROUP BY j, bucket
    ),
    topk AS (SELECT term, cnt FROM tf ORDER BY cnt DESC, term LIMIT 30),
    est AS (
        SELECT hs.term, hs.cnt, MIN(c.cell) AS cm_estimate
        FROM hashes hs
        JOIN cells c ON c.j = hs.j AND c.bucket = hs.bucket
        WHERE hs.term IN (SELECT term FROM topk)
        GROUP BY hs.term, hs.cnt
    )
    SELECT term, cnt AS true_count, cm_estimate,
           cm_estimate - cnt AS overcount
    FROM est
    ORDER BY true_count DESC, term
"""


@register(
    "cmsketch_word_counts",
    oracle=_CM_ORACLE,
    # r8: promoted to the driver window (VERDICT r7 #2) — the sketch
    # family's point-frequency member, CI-exact-gated since r6; takes a
    # sketch slot from heavy_hitter_words (demoted to extra).
)
def cmsketch_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point-frequency estimates for the corpus's 30 most
    frequent words, alongside their exact counts and the sketch's
    overcount — the fourth mergeable sketch in the kit (HLL distinct, GK
    quantiles, MG frequent items, CM point frequency; Cormode &
    Muthukrishnan 2005).  CM never undercounts (MIN over depth=4 hash rows;
    collisions only inflate), so ``overcount >= 0`` always and the 4×1024
    grid bounds expected overcount by e/1024 of total term mass per row.

    The build is md5-derandomized and fully relational
    (``operators.heavyhitters.cm_sketch`` / ``cm_lookup``), so the oracle
    replays the ENTIRE sketch — hash rows, bucket assignment, cell sums,
    MIN fold — not just the output contract: the sketch itself is
    differential-tested.  Scale: one corpus shuffle (term frequency), a
    ≤4×1024-row grid via map-side partial aggregation, broadcast lookups."""
    from ..operators.heavyhitters import cm_lookup, cm_sketch

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
    tf = occ.groupBy("term").agg(F.count("*").alias("cnt"))
    cells = cm_sketch(tf, "term", "cnt", depth=4, width=1024)
    topk = tf.orderBy(F.desc("cnt"), "term").limit(30)
    est = cm_lookup(cells, topk.select("term"), "term", depth=4, width=1024)
    return (
        topk.join(est, "term")
        .select(
            "term",
            F.col("cnt").alias("true_count"),
            "cm_estimate",
            (F.col("cm_estimate") - F.col("cnt")).alias("overcount"),
        )
        .orderBy(F.desc("true_count"), "term")
    )


# Winnowing parameters: word-4-gram hashes, window of 5 consecutive grams.
# The guarantee (Schleimer/Wilkerson/Aiken, SIGMOD'03): any shared run of
# at least w + k - 1 = 8 words between two documents puts at least one
# identical full window of gram hashes in both, so its minimum is selected
# on both sides and the pair shares a fingerprint.
_WINNOW_K = 4
_WINNOW_W = 5
# A fingerprint present in more than this many docs is boilerplate (carries
# no pairing signal) but would make the shared-fingerprint join quadratic in
# its bucket — the same skew discipline as _JACCARD_MAX_SHINGLE_FREQ, and
# the oracle mirrors the cap so the result stays bit-exact.
_WINNOW_MAX_FP_FREQ = 100

# Build the k-term gram concat FROM _WINNOW_K so the oracle can never
# silently desync from the Spark side if k changes (ADVICE r6): for k=4
# this renders ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
_WINNOW_GRAM_SQL = " || ' ' || ".join(
    f"ws[i+{j}]" if j else "ws[i]" for j in range(_WINNOW_K)
)


@register(
    "winnow_fingerprint_pairs",
    extra=True,  # r11 rotation: driver-green r8-r10; X2 keeps three driver
    # rows (minhash-LSH, simhash, components-canonical).  CI-exact-gated.
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    g0 AS (
        SELECT doc_id, i,
               md5({_WINNOW_GRAM_SQL}) AS hx
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - {_WINNOW_K - 1}, 0))) AS i
        ) t
    ),
    g AS (SELECT doc_id, i, {hex_prefix_bigint('hx', 15)} AS h FROM g0),
    w AS (
        SELECT doc_id, i,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp,
               max(i) OVER (PARTITION BY doc_id) AS max_i
        FROM g
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE i <= max_i - {_WINNOW_W - 1}),
    kept AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {_WINNOW_MAX_FP_FREQ}),
    fpk AS (SELECT fps.doc_id, fps.fp FROM fps JOIN kept USING (fp)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT *, row_number() OVER (ORDER BY n_shared DESC, doc_a, doc_b) AS rnk
        FROM pairs
    )
    WHERE rnk <= 20
    """,
    # r8: promoted to the driver window (VERDICT r7 #2) — MOSS winnowing
    # fingerprint pairs, CI-exact-gated since r6; widens X4's externally
    # verified surface alongside the demotion of heavy_hitter_words.
)
def winnow_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    — the MOSS algorithm) and the top shared-fingerprint doc pairs: per doc,
    hash every word 4-gram, slide a window of 5 consecutive gram hashes, and
    select each full window's MINIMUM hash; the distinct selected values are
    the doc's fingerprint set.  Guarantee: any shared run of >= w + k - 1 = 8
    words is detected, while only ~2/(w+1) of gram hashes are retained —
    the storage/recall trade plagiarism and near-dup triage pipelines use.

    This is VALUE winnowing: the fingerprint is the window-min hash value,
    not the (value, position) pair of canonical robust winnowing — for pair
    detection the value set carries the guarantee, needs no position
    arithmetic (a packed 64-bit (hash, pos) key overflows the exact-double
    range, so it could not be oracle-compared portably), and dedups harder.

    Distributed shape: gram hashing is a narrow codegen projection over the
    corpus scan (indexed array refs, never a HOF lambda — see
    PERFORMANCE.md); the window-min is one doc_id-keyed exchange with O(w)
    state per row; fingerprints join on an equi-key with the boilerplate
    cap bounding every bucket, so candidate cost follows shared evidence,
    not corpus².  60-bit hashes (15 hex chars) keep the min/aggregation
    BIGINT-exact in both engines via the portable hex-to-int expansion
    while making cross-doc birthday collisions negligible at scale."""
    from pyspark.sql.window import Window as W

    from ..operators.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)
    kept = fps.groupBy("fp").agg(F.count("*").alias("nf")).filter(
        F.col("nf") <= _WINNOW_MAX_FP_FREQ
    )
    fpk = fps.join(kept.select("fp"), "fp")
    a = fpk.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fpk.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    w_rank = W.orderBy(F.desc("n_shared"), "doc_a", "doc_b")
    return (
        pairs.withColumn("rnk", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rnk") <= 20)
    )


@register(
    "containment_excerpt_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    kept AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {_JACCARD_MAX_SHINGLE_FREQ}),
    shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN kept USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT c.doc_a, c.doc_b, c.n_common, sa.n AS n_a, sb.n AS n_b,
               c.n_common / least(sa.n, sb.n) AS containment
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_common, n_a, n_b, containment
    FROM ver WHERE containment >= 0.8
    """,
    extra=True,  # X2 sibling of neardup_jaccard_pairs (asymmetric overlap)
)
def containment_excerpt_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt/quote detection (X2): pairs whose shingle-set CONTAINMENT
    |A∩B| / min(|A|, |B|) is ≥ 0.8 — the asymmetric resemblance of Broder
    (1997).  A short doc embedded verbatim in a long one scores ~1.0 here
    while its Jaccard is ~|A|/|B| (arbitrarily small), so this is the
    curation signal symmetric near-dup passes (MinHash/Jaccard/SimHash)
    structurally miss: quoted passages, boilerplate-wrapped reposts,
    documents assembled from other documents.

    Same evidence-bounded shared-shingle join and hot-shingle cap as
    ``neardup_jaccard_pairs`` (the oracle replays the cap, so the row is
    bit-exact); the containment ratio is IEEE division of identical integer
    operands — engine-exact unrounded.  At 100 TB the candidate stage swaps
    to MinHash-LSH exactly as the Jaccard form does (containment is then
    estimated per candidate from the same exact intersection counts)."""
    from ..operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(
        shingles(docs), threshold=0.8, max_shingle_freq=_JACCARD_MAX_SHINGLE_FREQ
    ).select("doc_a", "doc_b", "n_common", "n_a", "n_b", "containment")

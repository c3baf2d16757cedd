"""Training-data curation queries over ``documents`` — benchmark
decontamination, deterministic split/mixture assignment, shard export
stats, sequence packing (LLM-pipeline extensions beyond the reference's
warehouse surface; companions to the X1–X5 dedup/similarity kit).

Every hash decision is ``md5(salt || ':' || key)`` compared as lowercase
hex *strings*, which orders identically in Spark and DuckDB — so even the
sampling queries are bit-exact differential-testable with no RNG seam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.checkpointing import materialize
from ..operators.curation import (
    contaminated_docs,
    mixture_sample,
    pack_sequences,
    shard_assign,
    split_assign,
)
from . import register
from ._sqlutil import hex_prefix_bigint

# DuckDB twin of operators.dedup.shingles with n=4 (word 4-grams, distinct)
_GRAMS4_CTE = """
    tok AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
    g4 AS (
        SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i
        ) t
    )
"""

# benchmark membership: every 25th doc plays the held-out eval suite
_BENCH_PRED = "doc_id % 25 = 0"


@register(
    "decontam_ngram_overlap",
    extra=True,  # r9 window rotation: demoted after 6 green driver rounds —
    # decontam_bloom_prefilter (bit-identical answer incl. the exact verify)
    # keeps the family's external slot; stays CI-exact-gated
    oracle=f"""
    WITH {_GRAMS4_CTE},
    tr AS (SELECT doc_id, s FROM g4 WHERE NOT ({_BENCH_PRED})),
    be AS (SELECT doc_id AS bench_id, s FROM g4 WHERE {_BENCH_PRED})
    SELECT tr.doc_id,
           COUNT(DISTINCT tr.s) AS n_hit_grams,
           COUNT(DISTINCT be.bench_id) AS n_bench_docs
    FROM tr JOIN be ON tr.s = be.s
    GROUP BY tr.doc_id
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 4-gram
    with the held-out benchmark subset (every 25th doc stands in for an
    eval suite).  The benchmark gram set is broadcast — at 100 TB the
    training side never shuffles for this check (plan test pins the
    broadcast)."""
    docs = load_table(spark, sf_dir, "documents")
    bench_flag = F.col("doc_id") % 25 == 0
    return contaminated_docs(
        docs.filter(~bench_flag), docs.filter(bench_flag), n=4
    )


# mixture targets for the sampling battery: downweight the dominant 'en',
# keep all 'de', intermediate rates elsewhere; thresholds are embedded in
# the oracle as the same 8-hex-digit literals _hex_threshold produces
_MIX_RATES = {"en": 0.5, "de": 1.0, "fr": 0.75, "es": 0.25, "zh": 0.5}


@register(
    "curation_split_sample",
    oracle="""
    SELECT doc_id, lang, source,
           CASE WHEN substr(md5('split:' || source), 1, 8) < '19999999' THEN 'val'
                WHEN substr(md5('split:' || source), 1, 8) < '33333333' THEN 'test'
                ELSE 'train' END AS split,
           CASE lang
                WHEN 'en' THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
                WHEN 'de' THEN TRUE
                WHEN 'fr' THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000'
                WHEN 'es' THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
                WHEN 'zh' THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
                ELSE FALSE END AS keep_mix
    FROM documents
    """,
    extra=True,  # r4: rotated OUT of the driver window (green in r3); its
    # split/sample logic is also driver-exercised inside
    # curation_pipeline_end2end's final stage
)
def curation_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curation battery: leakage-safe train/val/test split
    keyed on ``source`` (near-dups from one source stay in one split) plus
    language-mixture downsampling flags (en halved, de kept whole, …).
    Pure column expressions — reproducible on any engine at any
    parallelism, no ``rand()``; thresholds nest, so raising a rate grows
    the kept set monotonically (data-scaling ablations)."""
    docs = load_table(spark, sf_dir, "documents")
    out = split_assign(docs, "source", val=0.1, test=0.1)
    out = mixture_sample(out, _MIX_RATES, group_col="lang", key_col="doc_id")
    return out.select("doc_id", "lang", "source", "split", "keep_mix")


@register(
    "shard_assign_stats",
    oracle="""
    WITH sh AS (
        SELECT source, n_chars,
               CAST(strpos('0123456789abcdef',
                           substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 8, 1)
                    ) - 1 AS INT) AS shard
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT source) AS n_sources
    FROM sh GROUP BY shard
    """,
    extra=True,  # r5: rotated OUT after three green rounds; X6 keeps driver
    # rows curation_pipeline_end2end (shard stage) / stratified_sample_langs
    # / temperature_mixture_sources / dsir_importance_weights
)
def shard_assign_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard assignment balance: deterministic md5-keyed
    shard in [0,16) with per-shard row/byte/source counts.  Stable under
    repartitioning and reruns (unlike round-robin ids), so incremental
    re-exports rewrite only changed shards; the oracle reads the same
    shard off the digest's 8th hex nibble (== mod-16 of the 8-hex
    prefix)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        shard_assign(docs, "doc_id", n_shards=16)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@register(
    "pack_sequences_bins",
    oracle=None,  # greedy FFD bin packing is not SQL-expressible; invariants
    # (capacity, exactly-once, determinism) are pytest-pinned in
    # tests/test_curation.py
    extra=True,
)
def pack_sequences_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: greedy first-fit-decreasing assignment of
    docs into 256-token bins, hash-bucketed so packing parallelizes (one
    Arrow task per bucket) while staying deterministic."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.lower("text"), " ")).cast("long")
    )
    return pack_sequences(docs, budget=256, n_buckets=8)


@register(
    "curation_pipeline_end2end",
    oracle=f"""
    WITH RECURSIVE tok0 AS (
        SELECT doc_id, lang, source, text,
               string_split(lower(text), ' ') AS ws
        FROM documents
    ),
    rep AS (
        SELECT doc_id, len(ws) AS n_tok, greatest(len(ws) - 2, 0) AS tg,
               CASE WHEN len(ws) >= 3 THEN (
                   SELECT COUNT(DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                   FROM (SELECT unnest(generate_series(1, len(ws) - 2)) AS i) t
               ) ELSE 0 END AS dg
        FROM tok0
    ),
    q AS (
        SELECT t.doc_id, t.lang, t.source, t.text, t.ws, r.n_tok
        FROM tok0 t JOIN rep r USING (doc_id)
        WHERE r.n_tok BETWEEN 10 AND 1000
          AND (CASE WHEN r.tg > 0 THEN CAST(r.tg - r.dg AS DOUBLE) / r.tg
                    ELSE 0 END) <= 0.2
    ),
    ex AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY md5(lower(text))),
    qe AS (SELECT q.* FROM q JOIN ex USING (doc_id)),
    sh AS (
        SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
        FROM qe, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS i
        ) t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT c.doc_a, c.doc_b
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE c.n_common / (sa.n + sb.n - c.n_common) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM reach GROUP BY node),
    canon AS (
        SELECT qe.doc_id, qe.lang, qe.source, qe.ws, qe.n_tok
        FROM qe LEFT JOIN comp ON comp.doc_id = qe.doc_id
        WHERE comp.doc_id IS NULL OR comp.component = qe.doc_id
    ),
    g4c AS (
        SELECT DISTINCT c.doc_id,
               ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
        FROM canon c, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i
        ) t
        WHERE NOT (c.doc_id % 25 = 0)
    ),
    g4b AS (
        SELECT DISTINCT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
        FROM tok0, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 3, 0))) AS i
        ) t
        WHERE doc_id % 25 = 0
    ),
    contam AS (SELECT DISTINCT g4c.doc_id FROM g4c JOIN g4b USING (s)),
    clean AS (
        SELECT c.doc_id, c.lang, c.source, c.n_tok
        FROM canon c
        WHERE NOT (c.doc_id % 25 = 0)
          AND c.doc_id NOT IN (SELECT doc_id FROM contam)
    )
    SELECT doc_id, lang, source,
           CASE WHEN substr(md5('split:' || source), 1, 8) < '19999999' THEN 'val'
                WHEN substr(md5('split:' || source), 1, 8) < '33333333' THEN 'test'
                ELSE 'train' END AS split,
           CAST(n_tok AS BIGINT) AS n_tok
    FROM clean
    WHERE CASE lang
               WHEN 'en' THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
               WHEN 'de' THEN TRUE
               WHEN 'fr' THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000'
               WHEN 'es' THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
               WHEN 'zh' THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
               ELSE FALSE END
    """,
    # r4: rotated INTO the driver window — the pipeline-composition flagship;
    # every stage's operator also holds its own driver/CI row, and this row
    # proves they COMPOSE under one oracle spanning quality -> dedup ->
    # canonical -> decontam -> split
)
def curation_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-curation pipeline as ONE DataFrame program —
    the core use case of this engine, assembled from the kit operators and
    differential-tested end to end against a single oracle:

    1. Gopher-style quality gate (10 <= n_words <= 1000, repeated-3-gram
       ratio <= 0.2) — shuffle-free column expressions;
    2. exact dedup by content hash (keep min doc_id per md5);
    3. near-dup canonicalization: Jaccard-0.5 pairs over the survivors ->
       connected components -> keep canonical docs only;
    4. benchmark decontamination: drop training docs sharing any word
       4-gram with the held-out bench subset (doc_id % 25 = 0), bench
       grams broadcast, and drop the bench docs themselves;
    5. leakage-safe md5 split on source + language-mixture downsampling.

    Stage costs at 100 TB: (1) rides the corpus scan, (2) one narrow
    hash-shuffle, (3) the pair stage — EXACT Jaccard over shared shingles,
    so the spanning oracle replays it bit-for-bit, (4) broadcast probe,
    (5) pure column expressions.  Output: one row per kept training doc."""
    docs = load_table(spark, sf_dir, "documents")
    return curation_pipeline(spark, docs)


def curation_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Pipeline implementation over an arbitrary documents frame (doc_id,
    text, lang, source).  The near-dup candidate stage is the shared-shingle
    join + exact Jaccard (``jaccard_pairs``): every qualifying pair by
    construction, the oracle-replayable setting the registry row uses.

    Every staged frame and every label-propagation round follows the
    session's checkpoint mode (operators/checkpointing.py): with a
    checkpoint directory set, a lost executor doesn't fail the pipeline."""
    from ..operators.dedup import (
        jaccard_pairs,
        neardup_components,
        shingles,
    )
    from ..operators.quality import gopher_repetition_columns

    # Stage-1 quality gate: THE SAME implementation as doc_quality_battery
    # (gopher_repetition_columns — staged columns, collision-proof names,
    # see its docstring for the HOF-lambda re-evaluation trap); the helper
    # columns are dropped so `q` keeps the caller's docs schema + n_tok.
    staged = gopher_repetition_columns(docs)
    q = (
        staged.filter(
            F.col("_qg_n_words").between(10, 1000) & (F.col("_qg_rep") <= 0.2)
        )
        .withColumn("n_tok", F.col("_qg_n_words").cast("long"))
        .drop("_qg_n_words", "_qg_rep")
    )
    keep = q.groupBy(F.md5(F.lower("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # eager checkpoint (``materialize``): the quality-gate expressions are
    # the most expensive narrow work in the pipeline, and the survivors
    # feed the shingle stage NOW plus two lazy branches later (decontam
    # probe, final anti-join).  Checkpointing executes them once and
    # truncates lineage, so every consumer re-reads materialized rows
    # instead of re-running the 3-gram expressions; unlike persist(), no
    # CacheManager entry outlives the query — the blocks or files are
    # freed by the ContextCleaner when the result goes out of scope.
    # repartition before the checkpoint: AQE coalesces the small join
    # output to ~1 partition (right for shuffle cost, wrong for the
    # CPU-heavy shingle/4-gram expressions downstream, which inherit the
    # checkpointed layout) — spreading the survivors across the cluster
    # here is the same small-scan-parallelization call load_table makes
    qe = materialize(
        q.join(keep.select("doc_id"), "doc_id").repartition(
            spark.sparkContext.defaultParallelism
        )
    )
    # reuse, released below: the shared-shingle join reads sh three times,
    # pairs feeds four branches (edges forward+reversed, nodes a+b)
    sh = shingles(qe).persist()
    pairs = (
        jaccard_pairs(sh, threshold=threshold)
        .select("doc_a", "doc_b")
        .persist()
    )
    nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    comp = neardup_components(pairs, nodes)
    # comp is eagerly checkpointed inside neardup_components, so nothing
    # downstream depends on sh/pairs any more — release those caches here
    # rather than leaking them for the session's life (registry-wide sweeps
    # run this query alongside 89 others)
    sh.unpersist()
    pairs.unpersist()
    canon = qe.join(comp, "doc_id", "left").filter(
        F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
    )
    bench_flag = F.col("doc_id") % 25 == 0
    contam = contaminated_docs(
        canon.filter(~bench_flag), docs.filter(bench_flag), n=4
    ).select("doc_id")
    clean = canon.filter(~bench_flag).join(contam, "doc_id", "left_anti")
    out = split_assign(clean, "source", val=0.1, test=0.1)
    out = mixture_sample(out, _MIX_RATES, group_col="lang", key_col="doc_id")
    return out.filter("keep_mix").select("doc_id", "lang", "source", "split", "n_tok")


# DuckDB twin of the DSIR hashed-ngram likelihood-ratio scoring, shared by
# the weighting query and the Gumbel-top-k resampling step built on it
_DSIR_CTES = f"""
    tok AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS ws FROM documents
    ),
    uni AS (
        SELECT doc_id, source, ws[i] AS feat
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, len(ws))) AS i
        ) t
    ),
    bi AS (
        SELECT doc_id, source, ws[i] || ' ' || ws[i+1] AS feat
        FROM tok, LATERAL (
            SELECT unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS i
        ) t
    ),
    fh AS (
        SELECT doc_id, source, substr(md5(feat), 1, 8) AS h
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
    ),
    feats AS (
        SELECT doc_id, source, {hex_prefix_bigint('h', 8)} % 4096 AS b FROM fh
    ),
    raw AS (SELECT b, COUNT(*) AS c FROM feats GROUP BY b),
    tgt AS (
        SELECT b, COUNT(*) AS c FROM feats
        WHERE source IN ('src1', 'src2', 'src3')
        GROUP BY b
    ),
    nr AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM raw),
    nt AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM tgt),
    probs AS (
        SELECT r.b,
               CAST(ln((CAST(COALESCE(t.c, 0) + 1 AS DOUBLE) / (nt.n + 4096.0))
                       / (CAST(r.c + 1 AS DOUBLE) / (nr.n + 4096.0)))
                    AS DECIMAL(20, 10)) AS logratio
        FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN nr CROSS JOIN nt
    ),
    perdoc AS (
        SELECT f.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_feats,
               round(CAST(SUM(p.logratio) AS DOUBLE), 4) AS logweight,
               (round(CAST(SUM(p.logratio) AS DOUBLE), 4) > 0.0) AS target_like
        FROM feats f JOIN probs p ON p.b = f.b
        GROUP BY f.doc_id
    )
"""


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_feats, logweight, target_like FROM perdoc
    """,
    # r4: rotated INTO the driver window (the round's flagship data-selection
    # operator; previously CI-exact-gated as an extra)
    extra=True,  # r8 window rotation: the DSIR component's driver row is now
    # dsir_gumbel_topk (its selection half, sharing these scoring CTEs), so
    # the external gate sees the previously CI-only half; this half was
    # driver-green r4-r7 and stays CI-exact-gated.
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): score
    every raw document by the log-likelihood ratio of a TARGET bag-of-
    hashed-ngrams model (here: the trusted sources src1-3 stand in for the
    high-quality target domain) against the RAW corpus model — the
    published recipe for selecting web data that "looks like" a trusted
    corpus without training a classifier.

    Features are word unigrams + bigrams hashed into 4,096 buckets (md5
    prefix mod B, engine-reproducible; production uses the same expression
    with B = 2^20).  Both models are Laplace-smoothed bucket counts, and
    each occurrence contributes ln(p_target(b) / p_raw(b)) to its
    document's weight; logweight > 0 reads "more target-like than raw".

    100 TB shape: two vocabulary-hash aggregations whose output is B rows
    (map-side combine collapses the token stream), the B-row log-ratio
    table broadcasts back onto the feature stream, and one per-doc agg
    produces the weights — the same two-shuffle layout as the unigram-LM
    filter; nothing scales with vocabulary, only with B.  Per-term
    DECIMAL(20,10) log-ratios make the per-doc sum order-independent (the
    oracle-parity trick; production keeps doubles).  Selection downstream
    is ``mixture_sample``-style thresholding on logweight, or Gumbel-top-k
    on weight + md5 noise for true importance RESAMPLING."""
    docs = load_table(spark, sf_dir, "documents")
    # Stage `ws` as a column: `F.element_at(<inline split>, i)` inside the
    # interpreted transform lambda re-splits the doc per bigram element —
    # O(n_words^2) per doc.  An attribute reference makes it O(1).
    tok = docs.select(
        "doc_id", "source", F.split(F.lower("text"), " ").alias("ws")
    )
    wsc = F.col("ws")
    bi_pos = F.when(
        F.size(wsc) >= 2, F.sequence(F.lit(1), F.size(wsc) - 1)
    ).otherwise(F.array().cast("array<int>"))
    bigrams = F.transform(
        bi_pos,
        lambda i: F.concat_ws(
            " ",
            F.element_at(wsc, i.cast("int")),
            F.element_at(wsc, (i + 1).cast("int")),
        ),
    )
    feats = tok.select(
        "doc_id",
        "source",
        F.explode(F.concat(wsc, bigrams)).alias("feat"),
    ).select(
        "doc_id",
        "source",
        (F.conv(F.substring(F.md5(F.col("feat").cast("binary")), 1, 8), 16, 10)
         .cast("long") % 4096).alias("b"),
    )
    # raw and target bucket counts in ONE aggregation pass (count + filtered
    # count over the same groupBy) — the earlier two-agg + left-join layout
    # re-ran the explode/md5 featurization per model and paid a bucket-keyed
    # join; tc = 0 here is exactly the coalesce(tc, 0) the join produced for
    # target-absent buckets, so the smoothed ratios are bit-identical.
    bucket_counts = feats.groupBy("b").agg(
        F.count("*").alias("rc"),
        F.count_if(F.col("source").isin("src1", "src2", "src3")).alias("tc"),
    )
    totals = bucket_counts.agg(
        F.sum("rc").cast("double").alias("nr"),
        F.sum("tc").cast("double").alias("nt"),
    )
    logratio = F.ln(
        ((F.col("tc") + 1).cast("double") / (F.col("nt") + 4096.0))
        / ((F.col("rc") + 1).cast("double") / (F.col("nr") + 4096.0))
    ).cast("decimal(20,10)")
    probs = bucket_counts.crossJoin(F.broadcast(totals)).select(
        "b", logratio.alias("logratio")
    )
    weight = F.round(F.sum("logratio").cast("double"), 4)
    return (
        feats.join(F.broadcast(probs), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            weight.alias("logweight"),
            (weight > 0.0).alias("target_like"),
        )
    )


@register(
    "dsir_gumbel_topk",
    oracle=f"""
    WITH {_DSIR_CTES},
    gh AS (
        SELECT doc_id, logweight,
               substr(md5('gumbel:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
        FROM perdoc
    ),
    g AS (
        SELECT doc_id, logweight,
               round(logweight
                     - ln(-ln(({hex_prefix_bigint('h', 8)}
                               + 0.5) / 4294967296.0)),
                     4) AS gkey
        FROM gh
    )
    SELECT doc_id, logweight, gkey, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT *, row_number() OVER (ORDER BY gkey DESC, doc_id) AS rnk FROM g
    )
    WHERE rnk <= 100
    """,
    # r8: promoted to the driver window (VERDICT r7 #2) — CI-exact-gated
    # since r4; takes the DSIR slot from dsir_importance_weights (demoted to
    # extra), so the external gate now verifies the Gumbel-top-k selection
    # half too.  Shares the scoring CTEs with dsir_importance_weights.
)
def dsir_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RESAMPLING step of DSIR: draw 100 documents WITHOUT replacement
    with probability proportional to exp(logweight) via the Gumbel-top-k
    trick — adding an independent Gumbel(0,1) noise term to each log-weight
    and taking the top-k is exactly weighted sampling without replacement
    (Vieira 2014; the Gumbel-max argmax identity applied k times).

    The Gumbel noise is derandomized engine-reproducibly: the uniform is
    the doc's salted md5 prefix scaled to (0,1) (u = (h + 0.5) / 2^32 —
    never exactly 0 or 1, so −ln(−ln(u)) is always finite), the same
    no-RNG-seam device as ``split_assign``/``mixture_sample``; keys round
    to 4 decimals with a doc_id tiebreaker so last-ulp ln() drift can
    never reorder the cut.

    100 TB shape: everything rides the DSIR scoring plan (two shuffles);
    the noise is a narrow per-row expression, and the global top-100 is
    rank-limited (TakeOrdered — O(k × partitions) driver merge, no global
    sort).  This replaces hard thresholding on logweight: thresholds
    collapse the selected set onto the target mode, while Gumbel
    resampling preserves diversity in proportion to the importance
    weights — the reason the paper resamples instead of filtering."""
    scored = dsir_importance_weights(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("gumbel:"), F.col("doc_id").cast("string")).cast("binary")),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(4294967296.0)
    gkey = F.round(F.col("logweight") - F.ln(-F.ln(u)), 4)
    from pyspark.sql.window import Window as W

    w = W.orderBy(F.desc("gkey"), F.asc("doc_id"))
    return (
        scored.select("doc_id", "logweight", gkey.alias("gkey"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 100)
    )


@register(
    "stratified_sample_langs",
    extra=True,  # r10: rotated OUT of the driver window (5 green rounds
    # r5-r9; curation family keeps 5 driver rows incl. the e2e pipeline)
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, lang, source FROM ranked WHERE rk <= 20
    """,
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-n stratified sampling: 20 docs per language by salted-md5 rank
    (operators.curation.stratified_sample_exact) — the deterministic
    evaluation-set cut (mixture_sample's Bernoulli rates give binomial-
    noisy sizes; eval sets need exact ones).  The window is hash-
    partitioned by lang, never a global sort; the oracle reproduces the
    md5 order verbatim."""
    from ..operators.curation import stratified_sample_exact

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample_exact(
        docs.select("doc_id", "lang", "source"), ["lang"], "doc_id", 20
    )


@register(
    "temperature_mixture_sources",
    oracle=f"""
    WITH cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    mn AS (SELECT MIN(n) AS n_min FROM cnt),
    rates AS (
        SELECT source, n, sqrt(CAST(n_min AS DOUBLE) / n) AS rate FROM cnt, mn
    ),
    hx AS (
        SELECT d.source, r.rate,
               substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS h
        FROM documents d JOIN rates r USING (source)
    ),
    dec AS (
        SELECT source, rate,
               CASE WHEN rate >= 1.0 THEN TRUE
                    ELSE {hex_prefix_bigint('h', 8)}
                         < CAST(FLOOR(rate * 4294967296.0) AS BIGINT)
               END AS keep
        FROM hx
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(FLOOR(MIN(rate) * 1000000.0) AS BIGINT) AS rate_micro
    FROM dec GROUP BY source
    """,
    # r5/r6 driver flagged hash_match=false while local comparison is
    # tuple-for-tuple bit-exact.  Root cause (r7): the output EDGE, not the
    # arithmetic — DuckDB's uncast integer SUM is HUGEINT, which lands in
    # pandas as float64 vs Spark's int64 (type-sensitive hash mismatch),
    # and `rate` was a rounded double.  Fix: CAST the SUM to BIGINT and
    # emit the rate as scaled-integer micro-units on both sides — every
    # hashed output column is now BIGINT or VARCHAR, nothing for a
    # driver-side type canonicalization to disagree about.  (The IEEE
    # sqrt(n_min/n) is bit-identical in both engines, so FLOOR(rate*1e6)
    # is too.)
)
def temperature_mixture_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing across sources at α=0.5 (operators.curation.
    temperature_rates + mixture_sample): kept counts ∝ √n_source, the
    head-flattening reweight a multi-source training mixture runs before
    export.  The oracle recomputes the data-derived rates (sqrt is
    correctly rounded in both engines) and replays every md5 keep
    decision numerically — a fixed-length lowercase-hex string compare and
    the numeric compare agree, so the per-source kept counts match
    exactly.  Every hashed output column is integer: the rate is emitted
    as micro-units (FLOOR(rate*1e6), bit-identical IEEE sqrt on both
    sides), so no double reaches the output.  Eager: the rate computation
    collects per-source counts when the query is built."""
    from ..operators.curation import mixture_sample, temperature_rates

    docs = load_table(spark, sf_dir, "documents")
    rates = temperature_rates(docs, "source", alpha=0.5)
    flagged = mixture_sample(docs, rates, group_col="source", salt="temp")
    rate_col = F.create_map(
        *[x for g, r in sorted(rates.items()) for x in (F.lit(g), F.lit(r))]
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep_mix"), 1).otherwise(0)).alias("n_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            # scaled-integer micro-units on both sides (oracle:
            # CAST(FLOOR(MIN(rate)*1e6) AS BIGINT)) — never emit a raw
            # double from a driver row; integer hashes can't drift
            F.floor(rate_col[F.col("source")] * F.lit(1000000.0))
            .cast("long")
            .alias("rate_micro"),
        )
    )


@register(
    "decontam_bloom_prefilter",
    oracle=f"""
    WITH {_GRAMS4_CTE},
    tr AS (SELECT doc_id, s FROM g4 WHERE NOT ({_BENCH_PRED})),
    be AS (SELECT doc_id AS bench_id, s FROM g4 WHERE {_BENCH_PRED})
    SELECT tr.doc_id,
           COUNT(DISTINCT tr.s) AS n_hit_grams,
           COUNT(DISTINCT be.bench_id) AS n_bench_docs
    FROM tr JOIN be ON tr.s = be.s
    GROUP BY tr.doc_id
    """,
    # r6: promoted INTO the driver window (was extra since r5) — same
    # answer as decontam_ngram_overlap by construction (Bloom has no false
    # negatives; FPs die in the exact verify), and it now exercises the
    # r6 DISTRIBUTED Bloom build (operators/bloom.py) under the external
    # correctness gate
)
def decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a Bloom-filter prefilter — the consortium-
    scale decontam-list form (10⁸ bench grams broadcast as a 125 MB bit
    array instead of tens of GB of strings).  k hash values are computed
    JVM-side (``xxhash64``), one Arrow pass tests bits with vectorized
    numpy, and surviving candidates take the exact broadcast-join verify —
    the result is bit-identical to ``decontam_ngram_overlap`` (same oracle
    SQL), which is the point: the Bloom stage changes the memory footprint,
    never the answer."""
    from ..operators.curation import contaminated_docs_bloom

    docs = load_table(spark, sf_dir, "documents")
    bench_flag = F.col("doc_id") % 25 == 0
    return contaminated_docs_bloom(
        docs.filter(~bench_flag), docs.filter(bench_flag), n=4
    )


@register(
    "token_budget_select",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(lower(text), ' '))) AS DOUBLE)
                   / len(string_split(lower(text), ' ')) AS quality
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens, quality,
               CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
                   AS cum_weight
        FROM t
    )
    SELECT doc_id, n_tokens, quality, cum_weight
    FROM c WHERE cum_weight <= 8000
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained corpus selection: keep the highest-quality docs
    (distinct-word ratio as the quality proxy — IEEE int/int division, so
    both engines order identically) until an 8k-token budget is filled —
    the "best N tokens" selection every compute-optimal training run makes.

    The oracle's ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY is the
    classic one-task scale trap; the Spark side runs
    ``operators.curation.budget_select`` — distributed range-partition
    sort, per-partition sums collected (bounded by cluster size), then
    per-partition cumulative windows plus broadcast prefix offsets.  Same
    answer, no single-task stage at any corpus size."""
    from ..operators.curation import budget_select

    docs = load_table(spark, sf_dir, "documents")
    # stage the split once; three inline references would re-split per row
    t = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ws")
    ).select(
        "doc_id",
        F.size("ws").cast("long").alias("n_tokens"),
        (F.size(F.array_distinct("ws")).cast("double") / F.size("ws")).alias(
            "quality"
        ),
    )
    return budget_select(
        t, order_col="quality", weight_col="n_tokens", budget=8000
    ).select("doc_id", "n_tokens", "quality", "cum_weight")

"""Extension-operator tests: dedup family on planted fixtures, similarity
search on constructed vectors, multimodal plumbing shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_cloud_logistics_spark.multimodal.binary_ops import (
    attach_binary_payload,
    audio_frame_stats,
    decode_image_features,
)
from etl_cloud_logistics_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_neardup,
    shingles,
    simhash64,
    simhash_near_pairs,
)
from etl_cloud_logistics_spark.operators.similarity import knn_bruteforce

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "completely different words about spark engines here"),
    (4, "here words different completely about engines spark"),  # permutation of 3
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    df = _docs(spark).withColumn("h", F.md5(F.lower("text").cast("binary")))
    out = exact_dedup(df, ["h"], "doc_id")
    dup = out.filter(F.col("n_copies") > 1).collect()
    assert len(dup) == 1 and dup[0].keep_id == 0 and dup[0].n_copies == 2


def test_jaccard_finds_planted_neardup(spark):
    pairs = jaccard_pairs(shingles(_docs(spark)), threshold=0.5).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (0, 1) in found  # near-dup
    assert (0, 2) in found  # exact dup → jaccard 1.0
    assert all(p not in found for p in [(0, 3), (0, 4), (1, 3)])


def test_minhash_lsh_agrees_with_exact(spark):
    out = minhash_lsh_neardup(_docs(spark), threshold=0.5)
    found = {(r.doc_a, r.doc_b) for r in out.collect()}
    # exact dup must always survive LSH banding (identical signatures)
    assert (0, 2) in found
    jac = {(r.doc_a, r.doc_b) for r in
           jaccard_pairs(shingles(_docs(spark)), threshold=0.5).collect()}
    assert found <= jac  # LSH+verify never yields non-pairs


def test_simhash_identical_token_sets(spark):
    sig = simhash64(_docs(spark))
    rows = {r.doc_id: r.simhash for r in sig.collect()}
    assert rows[0] == rows[2]  # identical text → identical fingerprint
    assert rows[3] != rows[0]
    pairs = simhash_near_pairs(sig, max_hamming=3).collect()
    found = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert found[(0, 2)] == 0
    # docs 3 and 4 share the same token SET → simhash cannot separate them
    assert (3, 4) in found


def test_knn_constructed_vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_bruteforce(emb.filter("vec_id = 0"), emb, k=3).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [1, 2, 3]
    assert all(r.neighbor_id != 0 for r in out)  # self excluded


def test_ivf_trained_perfect_recall_on_clustered_data(spark):
    """On data with real cluster structure the trained IVF quantizer must
    route every query to the bucket holding its true neighbors: recall@3 =
    1.0 with nprobe=1.  (The sf corpus is near-isotropic, so this planted
    fixture is what proves the machinery; the sf numbers are measured in
    test_ivf_recall_at_k_on_sf_corpus.)  A shortlist covering every
    candidate makes knn_sq8 score the float IVF ranking exactly."""
    from etl_cloud_logistics_spark.operators.similarity import (
        knn_sq8,
        recall_at_k,
        train_ivf_centroids,
    )

    # 4 well-separated clusters in 16-dim: center = 10*one-hot(axis), member
    # i offset deterministically on a second axis
    rows = []
    for c in range(4):
        for i in range(20):
            v = [0.0] * 16
            v[c] = 10.0
            v[(c + 4 + i % 4) % 16] = 1.0 + 0.1 * i
            rows.append((c * 20 + i, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = train_ivf_centroids(emb, n_clusters=4, n_iter=3)
    assert len(cents) == 4 and len(cents[0]) == 16
    q = emb.filter(F.col("vec_id") % 10 == 0)  # 8 queries, 2 per cluster
    exact = knn_bruteforce(q, emb, k=3)
    approx = knn_sq8(q, emb, k=3, centroids=cents, nprobe=1, shortlist=10**6)
    per_q = recall_at_k(approx, exact)
    overall = per_q.agg(F.avg("recall").alias("r")).first()["r"]
    print(f"planted-cluster IVF recall@3 (nprobe=1): {overall:.3f}")
    assert overall >= 0.95


def test_ivf_recall_at_k_on_sf_corpus(spark, sf_med):
    """Recall@3 of the ANN serving paths against the brute-force ground
    truth over the sf0.01 corpus (the VERDICT's operability requirement:
    an approximate index without a measured recall number isn't operable).

    Measured (deterministic: training uses decimal-exact sums and hash
    seeding): trained IVF k=8 recall@3 ≈ 0.53/0.77/0.93 at nprobe=1/2/4 —
    documented in COVERAGE.md.  The float IVF ranking is knn_sq8 with a
    shortlist covering every candidate."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.similarity import (
        knn_sq8,
        recall_at_k,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_med, "embeddings").persist()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(queries, emb, k=3).persist()
    exact.count()

    cents = train_ivf_centroids(emb, n_clusters=8, n_iter=3)
    got = {}
    for nprobe in (1, 2, 4):
        approx = knn_sq8(
            queries, emb, k=3, centroids=cents, nprobe=nprobe, shortlist=10**6
        )
        got[nprobe] = recall_at_k(approx, exact).agg(F.avg("recall")).first()[0]
    print(
        "sf0.01 recall@3 — trained IVF nprobe=1/2/4: "
        f"{got[1]:.3f}/{got[2]:.3f}/{got[4]:.3f}"
    )
    emb.unpersist()
    exact.unpersist()
    # floors, not exact pins: deterministic today, but the floor is the
    # operability contract (nprobe must buy recall, monotonically)
    assert got[1] >= 0.4
    assert got[2] >= 0.6
    assert got[4] >= 0.85
    assert got[1] <= got[2] <= got[4]


def test_sq8_recall_at_k_on_sf_corpus(spark, sf_med):
    """Recall@3 of the SQ8 serving path END-TO-END, including the quantized
    shortlist cut the IVF-only figures don't cover (a true neighbor whose
    approx_sim falls outside the top-``shortlist`` never reaches the exact
    rerank — r3 VERDICT gap).  Two measurements at shortlist=4k:

    - single global bucket → isolates the pure quantization loss of the
      shortlist cut (no IVF routing loss mixed in);
    - trained IVF + SQ8 at nprobe=1/2/4 → the full serving path, to compare
      against the IVF-only 0.533/0.767/0.933 (equality means SQ8 adds ~0
      incremental loss at 64-dim).  Figures recorded in COVERAGE.md.

    The label-bucket IVF (knn_ivf) reads ≈ 0.03 because the synthetic
    labels are uncorrelated with embedding geometry (same-label mean cosine
    0.013 vs -0.003 cross-label): the trained quantizer must beat it."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.similarity import (
        knn_ivf,
        knn_sq8,
        recall_at_k,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_med, "embeddings").persist()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(queries, emb, k=3).persist()
    exact.count()

    one_bucket = emb.withColumn("b", F.lit(0))
    shortlist_only = knn_sq8(
        one_bucket.filter(F.col("vec_id") < 10), one_bucket, k=3, bucket_col="b"
    )
    r_cut = recall_at_k(shortlist_only, exact).agg(F.avg("recall")).first()[0]

    cents = train_ivf_centroids(emb, n_clusters=8, n_iter=3)
    got = {}
    for nprobe in (1, 2, 4):
        approx = knn_sq8(queries, emb, k=3, centroids=cents, nprobe=nprobe)
        got[nprobe] = recall_at_k(approx, exact).agg(F.avg("recall")).first()[0]
    label_recall = recall_at_k(knn_ivf(queries, emb, k=3), exact).agg(F.avg("recall")).first()[0]
    print(
        f"sf0.01 SQ8 recall@3 (shortlist=4k) — quantized cut alone: {r_cut:.3f}; "
        f"IVF+SQ8 nprobe=1/2/4: {got[1]:.3f}/{got[2]:.3f}/{got[4]:.3f}; "
        f"label-bucket: {label_recall:.3f}"
    )
    emb.unpersist()
    exact.unpersist()
    # the shortlist cut must be near-lossless: 12 quantized-score slots for
    # 3 true neighbors leaves huge slack at 64-dim SQ8 error levels
    assert r_cut >= 0.9
    # end-to-end floors = the IVF-only floors (quantization adds ~0 loss)
    assert got[1] >= 0.4
    assert got[2] >= 0.6
    assert got[4] >= 0.85
    assert got[1] <= got[2] <= got[4]
    # the trained quantizer must beat the geometry-blind label bucketing
    assert got[1] > label_recall + 0.2


def test_sq8_codes_schema_and_roundtrip(spark):
    """SQ8 codes must be genuine array<tinyint> (the 4x footprint claim) and
    dequantization must reconstruct within step/2 per element; a constant
    dimension reconstructs exactly.  Codes are floor((x - lo)/step + 0.5) -
    128, hand-computed below (0.3 and -0.4 are their float32 values)."""
    from etl_cloud_logistics_spark.operators.similarity import (
        _sq8_steps,
        dequantize_sq8,
        quantize_sq8,
        train_sq8_bounds,
    )

    rows = [
        (0, [0.0, -1.0, 5.0]),
        (1, [1.0, 1.0, 5.0]),
        (2, [0.25, 0.3, 5.0]),   # third dim constant across the corpus
        (3, [0.75, -0.4, 5.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lo, hi = train_sq8_bounds(emb)
    assert lo == [0.0, -1.0, 5.0] and hi == [1.0, 1.0, 5.0]
    steps = _sq8_steps(lo, hi)
    coded = emb.select(
        "vec_id",
        F.col("embedding").alias("orig"),
        quantize_sq8("embedding", lo, hi).alias("codes"),
    )
    assert dict(coded.dtypes)["codes"] == "array<tinyint>"
    out = coded.select(
        "vec_id", "orig", "codes", dequantize_sq8("codes", lo, hi).alias("xhat")
    ).orderBy("vec_id").collect()
    assert [list(r.codes) for r in out] == [
        [-128, -128, -128],
        [127, 127, -128],
        [-64, 38, -128],  # 0.25*255 + 0.5 = 64.25; 1.3/(2/255) + 0.5 = 166.25
        [63, -52, -128],  # 0.75*255 + 0.5 = 191.75; 0.6/(2/255) + 0.5 = 76.99..
    ]
    for r in out:
        for x, c, xh, st in zip(r.orig, r.codes, r.xhat, steps):
            assert -128 <= c <= 127
            assert abs(xh - x) <= st / 2 + 1e-9
        assert r.xhat[2] == 5.0  # constant dim: code -128, exact lo


def test_sq8_bounds_frame_matches_collected(spark):
    """r12: the in-plan bounds frame (broadcast into the index build so the
    bounds aggregation rides the build's execution) must carry exactly the
    lists the driver-side collect produces — lo per dimension, and steps
    with the constant-dimension dummy 1.0."""
    from etl_cloud_logistics_spark.operators.similarity import (
        _sq8_steps,
        train_sq8_bounds,
        train_sq8_bounds_frame,
    )

    rows = [
        (0, [0.0, -1.0, 5.0]),
        (1, [1.0, 1.0, 5.0]),
        (2, [0.25, 0.3, 5.0]),
        (3, [0.75, -0.4, 5.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lo, hi = train_sq8_bounds(emb)
    frame = train_sq8_bounds_frame(emb).collect()
    assert len(frame) == 1
    assert list(frame[0]["lo_arr"]) == lo
    assert list(frame[0]["step_arr"]) == _sq8_steps(lo, hi)


def test_darray_sql_nonfinite_literals_parse_and_roundtrip(spark):
    """ADVICE r11: repr() of nan/inf renders unparseable ('nanD'); the
    fallback CAST forms must parse and round-trip the exact values."""
    import math

    from etl_cloud_logistics_spark.operators.similarity import lit_double_array

    vals = [1.5, float("nan"), float("inf"), float("-inf"), -0.0]
    got = spark.range(1).select(lit_double_array(vals).alias("a")).first()["a"]
    assert len(got) == len(vals)
    assert got[0] == 1.5 and math.isnan(got[1])
    assert got[2] == float("inf") and got[3] == float("-inf")
    assert got[4] == 0.0 and math.copysign(1.0, got[4]) == -1.0


def test_one_parse_builders_escape_backticks(spark):
    """ADVICE r11: a column name containing a backtick must resolve in the
    one-parse builders as the top-level column it names (values checked
    against hand-computed ones)."""
    from etl_cloud_logistics_spark.operators.similarity import (
        dequantize_sq8,
        dot_exact,
        norm_exact,
        quantize_sq8,
    )

    df = spark.createDataFrame(
        [([0.5, 0.25], [0.125, 1.0])], ["we`ird", "plain"]
    )
    r = df.select(
        dot_exact("we`ird", "plain").alias("d"), norm_exact("we`ird").alias("n")
    ).first()
    assert r["d"] == 0.3125  # 0.5*0.125 + 0.25*1.0
    assert r["n"] == 0.3125 ** 0.5  # sqrt(0.5² + 0.25²)
    lo, hi = [0.0, 0.0], [1.0, 1.0]
    codes = df.select(quantize_sq8("we`ird", lo, hi).alias("c")).first()["c"]
    assert list(codes) == [0, -64]  # floor(x*255 + 0.5) - 128
    deq = df.select(
        quantize_sq8("we`ird", lo, hi).alias("we`ird2")
    ).select(dequantize_sq8("we`ird2", lo, hi).alias("x")).first()["x"]
    assert list(deq) == [128.0 * (1.0 / 255.0), 64.0 * (1.0 / 255.0)]


def test_sq8_full_shortlist_equals_float_path(spark, sf_med):
    """With a shortlist covering every candidate, the SQ8 path's rerank sees
    exactly what the float IVF path scores — results must be IDENTICAL
    (same ids, bit-same rounded cosines).  Proves the rerank emits exact
    scores and quantization only ever gates shortlist membership."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.similarity import knn_ivf, knn_sq8

    emb = load_table(spark, sf_med, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    sq8 = knn_sq8(queries, emb, k=3, shortlist=10**6, bucket_col="label")
    flt = knn_ivf(queries, emb, k=3)
    assert sq8.exceptAll(flt).count() == 0 and flt.exceptAll(sq8).count() == 0


def test_sq8_recall_on_sf_corpus(spark, sf_med):
    """Recall@3 of the quantized serving path (trained IVF buckets + SQ8
    shortlist + exact rerank) vs brute force on the sf0.01 corpus.  The
    contract: quantization with a 4x-k shortlist costs (almost) no recall
    over the float IVF path at the same nprobe — the loss budget is 0.05."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.similarity import (
        knn_sq8,
        recall_at_k,
        train_ivf_centroids,
    )

    emb = load_table(spark, sf_med, "embeddings").persist()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(queries, emb, k=3).persist()
    exact.count()
    cents = train_ivf_centroids(emb, n_clusters=8, n_iter=3)
    # a shortlist covering every candidate = the float IVF ranking
    r_float = recall_at_k(
        knn_sq8(queries, emb, k=3, centroids=cents, nprobe=2, shortlist=10**6),
        exact,
    ).agg(F.avg("recall")).first()[0]
    r_sq8 = recall_at_k(
        knn_sq8(queries, emb, k=3, centroids=cents, nprobe=2), exact
    ).agg(F.avg("recall")).first()[0]
    print(f"sf0.01 recall@3 nprobe=2 — float IVF: {r_float:.3f}; SQ8+rerank: {r_sq8:.3f}")
    emb.unpersist()
    exact.unpersist()
    assert r_sq8 >= r_float - 0.05


def test_multimodal_plumbing(spark, sf_small):
    from etl_cloud_logistics_spark.catalog import load_table

    docs = load_table(spark, sf_small, "documents").limit(20)
    bin_df = attach_binary_payload(docs)
    assert dict(bin_df.dtypes)["payload"] == "binary"
    feats = decode_image_features(bin_df)
    r = feats.first()
    assert r.width == r.n_bytes % 640 + 1
    frames = audio_frame_stats(bin_df, frame_bytes=256).first()
    assert frames.n_frames == (frames.n_bytes + 255) // 256


def test_approx_distinct_error_bound(spark, sf_small):
    """approx_count_distinct at rsd=0.01 must land within a loose 5% of the
    exact count (the claim made by queries.relational_ext's HLL variant)."""
    from etl_cloud_logistics_spark.catalog import load_table
    from pyspark.sql import functions as F

    events = load_table(spark, sf_small, "events")
    both = (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert both
    for r in both:
        assert abs(r.approx - r.exact) <= max(1, 0.05 * r.exact)


def test_cosine_neardup_symmetric_and_thresholded(spark):
    from etl_cloud_logistics_spark.operators.similarity import cosine_neardup_pairs

    rows = [
        (0, [1.0, 0.0], 1),
        (1, [0.99, 0.14], 1),   # ~cos 0.990 with vec 0
        (2, [0.0, 1.0], 1),     # orthogonal
        (3, [1.0, 0.0], 2),     # same dir as 0 but other bucket → never paired
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = cosine_neardup_pairs(emb, threshold=0.9, dim=2).collect()
    pairs = {(r.vec_a, r.vec_b) for r in out}
    assert pairs == {(0, 1)}  # a<b ordering, bucket-pruned, thresholded


def test_multimodal_resize_and_frames(spark, sf_small):
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        attach_binary_payload,
        extract_embedding_stub,
        video_frame_sample,
    )

    docs = load_table(spark, sf_small, "documents").limit(10)
    bin_df = attach_binary_payload(docs)

    frames = video_frame_sample(bin_df, frame_bytes=100, every_n=3)
    rows = frames.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    orig = {r["doc_id"]: r for r in bin_df.collect()}
    for doc_id, frs in by_doc.items():
        n = len(orig[doc_id]["payload"])
        total_frames = (n + 99) // 100
        assert [f["frame_idx"] for f in sorted(frs, key=lambda x: x["frame_idx"])] == list(
            range(0, total_frames, 3)
        )
        for f in frs:
            assert f["frame_len"] == min(100, n - f["frame_start"])

    emb = extract_embedding_stub(bin_df, dim=4).collect()
    for r in emb:
        assert len(r["embedding"]) == 4
        assert abs(sum(r["embedding"]) - 1.0) < 1e-5


def test_neardup_components_planted_clusters(spark):
    from etl_cloud_logistics_spark.operators.dedup import neardup_components
    from pyspark.sql import functions as F

    # two chains and a singleton: {1-2-3}, {10-11}, {99}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (99,)], "doc_id long")
    out = {r["doc_id"]: r["component"] for r in neardup_components(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_neardup_components_long_chain(spark):
    """Worst case for frontier (delta) propagation: a path graph, where the
    min label must travel hop-by-hop end to end and the frontier shrinks to
    the single advancing node — any premature frontier cut-off would freeze
    the label short of the far end."""
    from etl_cloud_logistics_spark.operators.dedup import neardup_components

    n = 13
    # edges given high→low so propagation direction opposes insertion order
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = {r["doc_id"]: r["component"] for r in neardup_components(pairs, nodes).collect()}
    assert out == {i: 0 for i in range(n)}


def test_neardup_components_reliable_checkpoint(spark, reliable_checkpoints):
    """A session checkpoint directory switches lineage truncation from
    localCheckpoint to parquet round-trips (the executor-loss-safe mechanism for a real
    cluster); results must be identical, including on the path-graph worst
    case that exercises many alternating-slot rounds."""
    from etl_cloud_logistics_spark.operators.dedup import neardup_components

    n = 9
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)] + [(20, 21)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)] + [(20,), (21,)], "doc_id long"
    )
    with reliable_checkpoints():
        out = {
            r["doc_id"]: r["component"]
            for r in neardup_components(pairs, nodes).collect()
        }
    assert out == {**{i: 0 for i in range(n)}, 20: 20, 21: 20}


def test_neardup_components_shared_checkpoint_dir_is_safe(
    spark, reliable_checkpoints
):
    """Two invocations share the session's checkpoint directory: slots are
    namespaced per invocation, so the second call must not overwrite the
    parquet files backing the first call's still-live (lazily-read) result
    — collecting result A AFTER running call B must still give A's
    labels."""
    from etl_cloud_logistics_spark.operators.dedup import neardup_components

    def chain(lo: int, n: int):
        pairs = spark.createDataFrame(
            [(lo + i + 1, lo + i) for i in range(n - 1)], "doc_a long, doc_b long"
        )
        nodes = spark.createDataFrame([(lo + i,) for i in range(n)], "doc_id long")
        return neardup_components(pairs, nodes)

    with reliable_checkpoints():
        first = chain(0, 9)
        second = chain(100, 5)  # would clobber first's slots without namespacing
        assert {r["component"] for r in second.collect()} == {100}
        out = {r["doc_id"]: r["component"] for r in first.collect()}
    assert out == {i: 0 for i in range(9)}


def test_approx_quantile_rank_bound(spark, sf_small):
    """approx_percentile at accuracy=10000 guarantees rank error <= n/10000
    per group; assert each sketch quantile's true rank lands within that
    bound (+1 for interpolation slack) of the target rank, per priority."""
    from etl_cloud_logistics_spark.queries import REGISTRY, _load_all
    from etl_cloud_logistics_spark.catalog import load_table
    from pyspark.sql import functions as F

    _load_all()
    sketch = {
        r["o_orderpriority"]: r
        for r in REGISTRY["approx_quantile_order_prices"].fn(spark, sf_small).collect()
    }
    orders = load_table(spark, sf_small, "orders")
    for prio, row in sketch.items():
        vals = sorted(
            v[0] for v in orders.filter(F.col("o_orderpriority") == prio)
            .select("o_totalprice").collect()
        )
        n = len(vals)
        assert n == row["n_orders"]
        slack = n / 10000 + 1
        for frac, col in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75")):
            import bisect
            lo_rank = bisect.bisect_left(vals, row[col])
            hi_rank = bisect.bisect_right(vals, row[col])
            target = frac * (n - 1)
            # the sketch value occupies ranks [lo_rank, hi_rank); the target
            # rank must fall within `slack` of that span
            assert lo_rank - slack <= target <= hi_rank - 1 + slack, (
                prio, col, row[col], lo_rank, hi_rank, target
            )


def test_incremental_distinct_hll_accuracy_on_sf(spark, sf_med):
    """The registry's HLL entry has no SQL oracle (engine-specific sketch
    bytes) — pin its semantics here instead: the incrementally-merged
    estimate must sit within 5% of the exact per-status distinct count,
    and row counts (n_orders) must be exact."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.queries import REGISTRY, _load_all

    _load_all()
    got = {
        r["o_orderstatus"]: (r["n_orders"], r["n_customers_approx"])
        for r in REGISTRY["incremental_distinct_hll"].fn(spark, sf_med).collect()
    }
    orders = load_table(spark, sf_med, "orders")
    exact = {
        r["o_orderstatus"]: (r["n"], r["d"])
        for r in orders.groupBy("o_orderstatus")
        .agg(F.count("o_orderkey").alias("n"), F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    assert set(got) == set(exact)
    for s in exact:
        assert got[s][0] == exact[s][0]  # counts exact
        assert abs(got[s][1] - exact[s][1]) / exact[s][1] < 0.05  # HLL bound


def test_minhash_lsh_recall_on_sf_corpus(spark, sf_med):
    """Measured LSH recall vs the exact shared-shingle ground truth over
    the sf0.01 corpus (the operability figure, as recorded for IVF/SQ8):
    every true Jaccard>=0.5 pair must be recovered AND no false pair may
    survive (the exact-verify stage guarantees precision 1.0 by
    construction; recall is the banding gamble being measured).

    Context for the floor: with 8 hashes x 4 bands the S-curve gives a
    pair at jaccard exactly 0.5 only ~68% candidate probability — but the
    corpus's true pairs sit at jaccard >= 0.9 (planted near-dups), where
    the probability is ~0.999, so measured recall is 1.0.  A corpus whose
    near-dups cluster near the threshold needs more bands; that knob
    trade is the documented reason the band parameters appear in the
    oracle too."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_neardup,
        shingles,
    )

    docs = load_table(spark, sf_med, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(shingles(docs), threshold=0.5).collect()
    }
    found = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_neardup(docs, threshold=0.5).collect()
    }
    recall = len(found & exact) / len(exact)
    print(f"sf0.01 MinHash-LSH recall vs exact Jaccard>=0.5: {recall:.3f} "
          f"({len(found)}/{len(exact)} pairs)")
    assert recall == 1.0
    assert found <= exact  # exact-verify stage: precision is 1.0


def test_sq8_index_parquet_roundtrip_serves_identically(spark, sf_med, tmp_path):
    """The index lifecycle a deployment runs: collect the bounds, build_sq8_index
    once, persist to parquet, serve from the STORED index — results must be
    identical to the single-plan knn_sq8 (bounds derived in-plan) over the
    same corpus, for trained centroids and for a precomputed bucket column
    alike, and the stored codes must survive the round-trip as genuine
    array<tinyint> (the 4x footprint)."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.similarity import (
        build_sq8_index,
        knn_sq8,
        knn_sq8_serve,
        train_ivf_centroids,
        train_sq8_bounds,
    )

    emb = load_table(spark, sf_med, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    lo, hi = train_sq8_bounds(emb)
    cents = train_ivf_centroids(emb, n_clusters=8, n_iter=3)

    for name, buckets in (
        ("centroids", {"centroids": cents}),
        ("label", {"bucket_col": "label"}),
    ):
        path = str(tmp_path / f"sq8_index_{name}")
        build_sq8_index(emb, lo, hi, **buckets).write.parquet(path)
        stored = spark.read.parquet(path)
        assert dict(stored.dtypes)["codes"] == "array<tinyint>"

        direct = knn_sq8(queries, emb, k=3, nprobe=2, **buckets)
        served = knn_sq8_serve(
            stored, queries, emb, k=3, lo=lo, hi=hi, nprobe=2, **buckets
        )
        a = sorted(tuple(r) for r in direct.collect())
        b = sorted(tuple(r) for r in served.collect())
        assert a == b and len(a) == 30, name


def test_semdedup_prune_invariants(spark, sf_small):
    """SemDeDup keep/drop set: (1) decisions partition the corpus, (2) no
    qualifying pair survives with BOTH endpoints kept (the operator's whole
    contract), (3) every dropped vector names a strictly-lower blocker."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.similarity import (
        cosine_neardup_pairs,
        semdedup_prune,
    )

    emb = load_table(spark, sf_small, "embeddings")
    pruned = semdedup_prune(emb, threshold=0.35, dim=64)
    assert pruned.count() == emb.count()

    pairs = cosine_neardup_pairs(emb, threshold=0.35, dim=64)
    kept = pruned.filter(F.col("kept")).select(F.col("vec_id").alias("k_id"))
    both_kept = (
        pairs.join(kept.withColumnRenamed("k_id", "vec_a"), "vec_a")
        .join(kept.withColumnRenamed("k_id", "vec_b"), "vec_b")
        .count()
    )
    assert both_kept == 0

    bad_blocker = pruned.filter(
        ~F.col("kept") & ~(F.col("kept_by") < F.col("vec_id"))
    ).count()
    assert bad_blocker == 0


def test_srp_lsh_recovers_planted_clones(spark):
    """SRP hyperplane LSH (B=8, T=8): planted clone pairs at cos >= 0.99
    must be recovered near-perfectly (S-curve predicts ~1.0 there), and the
    exact-verify stage means emitted pairs are never false positives."""
    import hashlib

    from etl_cloud_logistics_spark.operators.similarity import srp_lsh_neardup

    def unit(seed: str) -> list[float]:
        vals = []
        for d in range(64):
            h = hashlib.md5(f"{seed}:{d}".encode()).hexdigest()
            vals.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
        n = sum(x * x for x in vals) ** 0.5
        return [x / n for x in vals]

    rows = []
    for i in range(30):
        base = unit(f"srp-fixture:{i}")
        clone = [x + 0.01 * ((d % 3) - 1) for d, x in enumerate(base)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, clone))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.vec_a, r.vec_b)
        for r in srp_lsh_neardup(emb, threshold=0.9, dim=64).collect()
    }
    true_pairs = {(2 * i, 2 * i + 1) for i in range(30)}
    recall = len(got & true_pairs) / len(true_pairs)
    print(f"SRP-LSH recall on planted clones (cos>=0.99): {recall:.3f}")
    assert recall >= 0.9
    # every emitted pair genuinely clears the threshold (verify stage):
    # unrelated md5-random pairs sit near cos 0 and cannot appear
    assert got <= true_pairs or all(a // 2 == b // 2 for a, b in got)


def test_srp_signatures_deterministic(spark):
    from etl_cloud_logistics_spark.operators.similarity import srp_signatures

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5 - 2) for d in range(16)]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    a = {(r.vec_id, r.t): r.sig for r in srp_signatures(emb, dim=16, n_tables=2, n_bits=4).collect()}
    b = {(r.vec_id, r.t): r.sig for r in srp_signatures(emb, dim=16, n_tables=2, n_bits=4).collect()}
    assert a == b and len(a) == 20
    assert all(len(s) == 4 and set(s) <= {"0", "1"} for s in a.values())


def test_srp_signatures_arrow_equals_relational(spark, sf_small):
    """The vectorized Arrow signature pass is bit-identical to the
    relational DECIMAL(38,0) aggregation on the real sf corpus — the
    equality that lets the registry row serve the fast form while the
    DuckDB oracle replays the relational one."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.similarity import (
        srp_signatures,
        srp_signatures_arrow,
    )

    emb = load_table(spark, sf_small, "embeddings")
    rel = {
        (r.vec_id, r.t): r.sig
        for r in srp_signatures(emb, n_tables=4, n_bits=8).collect()
    }
    arw = {
        (r.vec_id, r.t): r.sig
        for r in srp_signatures_arrow(emb, n_tables=4, n_bits=8).collect()
    }
    assert rel == arw and len(rel) > 0


def test_sliding_chunks_cover_and_overlap(spark, sf_small):
    """Chunk geometry: strides cover every character, consecutive chunks
    share exactly the overlap, and concatenating the non-overlap prefixes
    reconstructs the document."""
    from etl_cloud_logistics_spark.queries import REGISTRY, _load_all

    _load_all()
    out = REGISTRY["chunk_documents_sliding"].fn(spark, sf_small)
    rows = [r for r in out.collect() if r.doc_id == 0]
    rows.sort(key=lambda r: r.chunk_id)
    import duckdb

    text = duckdb.sql(
        f"SELECT text FROM '{sf_small}/documents.parquet' WHERE doc_id = 0"
    ).fetchone()[0]
    stride, size = 384, 512
    rebuilt = "".join(r.chunk_text[:stride] for r in rows[:-1]) + rows[-1].chunk_text
    assert rebuilt == text
    for a, b in zip(rows, rows[1:]):
        if len(a.chunk_text) == size:
            assert a.chunk_text[stride:] == b.chunk_text[: size - stride]


def test_pii_redaction_fires_on_planted_pii(spark):
    """The sf corpus is PII-free, so the oracle differential proves clean
    passthrough; THIS is where redaction itself is proven."""
    from etl_cloud_logistics_spark.queries.text_ops import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact alice@example.com or bob@test.org now"),
            (2, "see https://example.com/x and http://a.b/c end"),
            (3, "perfectly clean text"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert out[1].text == "contact <EMAIL> or <EMAIL> now"
    assert out[1].n_emails_redacted == 2
    assert out[2].text == "see <URL> and <URL> end"
    assert out[2].n_urls_redacted == 2
    assert out[3].text == "perfectly clean text"


@pytest.mark.slow_probe
def test_pq_recall_and_compression_on_sf_corpus(spark, sf_med):
    """PQ (m=8, k=16): measured recall@3 vs brute force on the sf corpus
    with the ADC shortlist at 4k, plus the invariants — codes are m
    tinyints (32x smaller than float32), reconstruction beats the zero
    vector by a wide margin, training is deterministic."""
    from etl_cloud_logistics_spark.catalog import load_table
    from etl_cloud_logistics_spark.operators.similarity import (
        decode_pq,
        encode_pq,
        knn_bruteforce,
        knn_pq,
        recall_at_k,
        train_pq_codebooks,
    )

    emb = load_table(spark, sf_med, "embeddings")
    books = train_pq_codebooks(emb, m=8, k=16, n_iter=3)
    assert len(books) == 8 and all(len(b) == 16 and len(b[0]) == 8 for b in books)
    books2 = train_pq_codebooks(emb, m=8, k=16, n_iter=3)
    assert books == books2  # deterministic Lloyd per subspace

    enc = emb.select(
        "vec_id",
        "embedding",
        encode_pq(F.col("embedding"), books, 64).alias("codes"),
    )
    row = enc.first()
    assert len(row["codes"]) == 8 and all(0 <= c < 16 for c in row["codes"])
    # reconstruction: relative error well under 1 (i.e. the codes carry
    # real signal; a broken encoder reconstructs near-noise)
    err = enc.select(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                decode_pq(F.col("codes"), books),
                lambda x, r: (x.cast("double") - r) * (x.cast("double") - r),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("se"),
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("ss"),
    ).agg(F.sum("se").alias("se"), F.sum("ss").alias("ss")).first()
    rel_err = err["se"] / err["ss"]
    print(f"PQ relative reconstruction error: {rel_err:.3f}")
    # ~0.56 on this corpus: near-isotropic random vectors are vector
    # quantization's worst case (no cluster structure to exploit), yet the
    # codes still capture ~44% of the energy — far from the 1.0 a broken
    # encoder (or zero reconstruction) would give; clustered real
    # embeddings sit much lower
    assert rel_err < 0.8

    q = emb.filter(F.col("vec_id") < 10)
    exact = knn_bruteforce(q, emb, k=3)
    recalls = {}
    for sl in (12, 50, 150):
        approx = knn_pq(q, emb, k=3, codebooks=books, shortlist=sl)
        recalls[sl] = recall_at_k(approx, exact).agg(F.avg("recall").alias("r")).first()["r"]
    print(f"PQ recall@3 vs shortlist: {recalls}")
    # the canonical PQ trade: recall is bought monotonically with shortlist
    # size; measured 0.433 / 0.733 / 0.967 on this (isotropic, worst-case)
    # corpus — the rerank makes the curve converge to 1.0
    assert recalls[12] >= 0.4 and recalls[50] >= 0.6 and recalls[150] >= 0.9
    assert recalls[12] <= recalls[50] <= recalls[150]


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _pil_available(), reason="PIL not installed in this environment"
)
def test_real_image_codec_roundtrip(spark):
    """Wherever PIL exists, the real-codec branch must decode actual image
    bytes end to end through the same Arrow mapInPandas plumbing the stub
    uses: synthesize PNGs of known sizes, decode with use_real_codec=True,
    and get the true dimensions back."""
    import io

    from PIL import Image

    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        IMAGE_META_SCHEMA,
        decode_image_features,
    )

    sizes = [(3, 5), (64, 48), (640, 1)]
    rows = []
    for i, (w, h) in enumerate(sizes):
        buf = io.BytesIO()
        Image.new("RGB", (w, h)).save(buf, format="PNG")
        rows.append((i, bytearray(buf.getvalue())))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.doc_id: (r.width, r.height)
        for r in decode_image_features(df, use_real_codec=True).collect()
    }
    assert out == {i: s for i, s in enumerate(sizes)}


def _png_bytes(w: int, h: int) -> bytes:
    """A structurally valid PNG header (signature + IHDR) carrying the
    given dimensions — enough for any spec-following header reader; the
    pixel data is absent, which is the point: dimension extraction must
    not require a pixel decode."""
    import struct
    import zlib

    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    )


def _jpeg_bytes(w: int, h: int) -> bytes:
    """SOI + APP0(JFIF) + SOF0 carrying the given dimensions (+ EOI) — the
    marker walk a JPEG header reader must perform, including a segment to
    skip before the frame header."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", h, w)
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


@pytest.mark.parametrize(
    "maker,sizes",
    [
        (_png_bytes, [(3, 5), (64, 48), (640, 1), (70000, 2)]),
        (_jpeg_bytes, [(3, 5), (64, 48), (640, 1), (65535, 2)]),
    ],
    ids=["png", "jpeg"],
)
def test_header_parse_real_codec_no_dependency(spark, maker, sizes):
    """use_real_codec=True is CI-exercisable with NO codec library (r8,
    VERDICT r7 item 4): synthesized PNG IHDR / JPEG SOF0 headers flow
    through the same Arrow mapInPandas plumbing and yield their true
    dimensions — the skip now guards only full pixel decode of other
    formats."""
    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        decode_image_features,
        parse_image_header,
    )

    # unit level: the parser itself
    for w, h in sizes:
        assert parse_image_header(maker(w, h)) == (w, h)
    # and through the Spark seam
    rows = [(i, bytearray(maker(w, h))) for i, (w, h) in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.doc_id: (r.width, r.height)
        for r in decode_image_features(df, use_real_codec=True).collect()
    }
    assert out == {i: s for i, s in enumerate(sizes)}


def test_header_parse_rejects_non_images():
    """Neither-format payloads return None (the caller's PIL-or-error
    fallthrough), including truncated/corrupt marker streams."""
    from etl_cloud_logistics_spark.multimodal.binary_ops import parse_image_header

    assert parse_image_header(b"not-an-image") is None
    assert parse_image_header(b"") is None
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") is None  # truncated
    assert parse_image_header(b"\xff\xd8\x00\x00\x00\x00") is None  # bad marker
    assert parse_image_header(b"\xff\xd8\xff\xe0\x00\x04\x00\x00") is None  # no SOF


def _gif_bytes(w: int, h: int) -> bytes:
    """Minimal GIF89a: signature + logical screen descriptor (LE uint16
    dims), no image data needed for a header parse."""
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def _bmp_bytes(w: int, h: int) -> bytes:
    """Minimal BMP with a 40-byte BITMAPINFOHEADER (LE int32 dims)."""
    import struct

    dib = struct.pack("<IiiHH", 40, w, h, 1, 24) + b"\x00" * 24
    return b"BM" + struct.pack("<IHHI", 14 + 40 + 0, 0, 0, 54) + dib


def test_header_parse_gif_bmp_stdlib(spark):
    """r9: GIF logical-screen and BMP DIB dimensions parse stdlib-only,
    through the same real-codec seam as PNG/JPEG — including the two BMP
    wrinkles: negative (top-down) height yields the magnitude, and the
    legacy 12-byte CORE header's uint16 fields."""
    import struct

    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        decode_image_features,
        parse_image_header,
    )

    sizes = [(3, 5), (640, 480), (65535, 2)]
    for w, h in sizes:
        assert parse_image_header(_gif_bytes(w, h)) == (w, h)
        assert parse_image_header(_bmp_bytes(w, h)) == (w, h)
    # top-down BMP: height stored negative, pixel height is the magnitude
    assert parse_image_header(_bmp_bytes(64, -48)) == (64, 48)
    # legacy BITMAPCOREHEADER (size 12, uint16 dims)
    core = b"BM" + struct.pack("<IHHI", 26, 0, 0, 26) + struct.pack(
        "<IHHHH", 12, 31, 17, 1, 24
    )
    assert parse_image_header(core) == (31, 17)
    # truncations / junk stay None
    assert parse_image_header(b"GIF89a\x01") is None
    assert parse_image_header(b"BM\x00\x00") is None
    # corrupt dims: negative width / zero height are illegal (unlike
    # negative height, which means top-down) — reject, don't emit
    assert parse_image_header(_bmp_bytes(-640, 480)) is None
    assert parse_image_header(_bmp_bytes(640, 0)) is None
    # and through the Spark seam
    rows = [(0, bytearray(_gif_bytes(12, 34))), (1, bytearray(_bmp_bytes(56, 78)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.doc_id: (r.width, r.height)
        for r in decode_image_features(df, use_real_codec=True).collect()
    }
    assert out == {0: (12, 34), 1: (56, 78)}


def test_wav_decode_recovers_encoded_params_exactly(spark):
    """The stdlib WAV round-trip: every header field, the PCM frame count,
    the integer-floor duration, and the RMS (exactly the amplitude for a
    square wave) must come back bit-exact through the Arrow seam."""
    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        decode_audio_wav,
        make_wav,
    )

    cases = [
        (0, 1, 8000, 50, 1000),
        (1, 2, 16000, 113, 1099),
        (2, 2, 24000, 64, 32000),
        (3, 1, 44100, 1, 1),
    ]
    rows = [
        (i, bytearray(make_wav(nch, rate, nf, amp)))
        for i, nch, rate, nf, amp in cases
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in decode_audio_wav(df).collect()}
    for i, nch, rate, nf, amp in cases:
        r = got[i]
        assert (r.n_channels, r.sample_rate, r.sample_width) == (nch, rate, 2)
        assert r.n_frames == nf
        assert r.duration_us == nf * 1_000_000 // rate
        assert r.rms == float(amp)  # square wave: RMS == amplitude, exact


def test_wav_decode_rejects_non_wav_and_non_16bit(spark):
    """Loud failure, never a silent fake: junk bytes raise through the UDF
    boundary, and a genuine 8-bit WAV raises the documented ValueError."""
    import io
    import wave

    from pyspark.errors import PythonException

    from etl_cloud_logistics_spark.multimodal.binary_ops import decode_audio_wav

    junk = spark.createDataFrame(
        [(0, bytearray(b"not-audio-at-all"))], "doc_id long, payload binary"
    )
    with pytest.raises(PythonException, match="RIFF"):
        decode_audio_wav(junk).collect()

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)  # 8-bit
        w.setframerate(8000)
        w.writeframes(b"\x80" * 100)
    eight = spark.createDataFrame(
        [(0, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    with pytest.raises(PythonException, match="16-bit"):
        decode_audio_wav(eight).collect()


def test_mp4_mvhd_parse_and_roundtrip(spark):
    """r9: the ISO BMFF container walk recovers exactly the mvhd fields the
    stub encoder wrote — including the version-1 (64-bit duration) and
    largesize layouts the synthesizer doesn't emit, built by hand here."""
    import struct

    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        decode_video_meta,
        make_mp4_stub,
        parse_mp4_mvhd,
    )

    # encoder twin round-trip
    assert parse_mp4_mvhd(make_mp4_stub(600, 1234)) == (600, 1234)
    assert parse_mp4_mvhd(make_mp4_stub(90000, 2)) == (90000, 2)

    # version-1 mvhd: 64-bit times/duration
    body_v1 = (
        struct.pack(">I", 0x01000000)
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 48000)
        + struct.pack(">Q", 7_000_000_000)
    )
    mvhd1 = struct.pack(">I", 8 + len(body_v1)) + b"mvhd" + body_v1
    moov1 = struct.pack(">I", 8 + len(mvhd1)) + b"moov" + mvhd1
    ftyp = make_mp4_stub(1, 1)[:24]  # reuse the stub's ftyp box
    assert parse_mp4_mvhd(ftyp + moov1) == (48000, 7_000_000_000)

    # largesize (size==1) moov box
    moov_large = (
        struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(mvhd1)) + mvhd1
    )
    assert parse_mp4_mvhd(ftyp + moov_large) == (48000, 7_000_000_000)

    # junk / truncation stay None
    assert parse_mp4_mvhd(b"not-a-video") is None
    assert parse_mp4_mvhd(b"") is None
    assert parse_mp4_mvhd(ftyp) is None  # no moov at all
    assert parse_mp4_mvhd((ftyp + moov1)[:30]) is None  # moov cut mid-box
    # r9 review regression: a v1 mvhd whose body is 28-31 bytes must return
    # None, not read past the box end (struct.error at payload end; bogus
    # (0, 16) from a sibling box's header bytes when one followed)
    short_body = body_v1[:28]
    mvhd_short = struct.pack(">I", 8 + len(short_body)) + b"mvhd" + short_body
    moov_short = struct.pack(">I", 8 + len(mvhd_short)) + b"moov" + mvhd_short
    assert parse_mp4_mvhd(ftyp + moov_short) is None
    free = struct.pack(">I", 16) + b"free" + b"\x00" * 8
    moov_sib = (
        struct.pack(">I", 8 + len(mvhd_short) + len(free))
        + b"moov"
        + mvhd_short
        + free
    )
    assert parse_mp4_mvhd(ftyp + moov_sib) is None

    # through the Spark seam, with the loud non-MP4 error
    rows = [(7, bytearray(make_mp4_stub(600, 3000)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    r = decode_video_meta(df).collect()[0]
    assert (r.timescale, r.duration_ticks, r.duration_us) == (600, 3000, 5_000_000)

    from pyspark.errors import PythonException

    junk = spark.createDataFrame(
        [(0, bytearray(b"nope"))], "doc_id long, payload binary"
    )
    with pytest.raises(PythonException, match="not an MP4"):
        decode_video_meta(junk).collect()
    # a crafted mvhd with timescale=0 must fail loudly, not emit a
    # plausible zero duration (same class as the audio rate-0 guard)
    ts0 = spark.createDataFrame(
        [(1, bytearray(make_mp4_stub(0, 500)))], "doc_id long, payload binary"
    )
    with pytest.raises(PythonException, match="invalid mvhd timescale"):
        decode_video_meta(ts0).collect()


def test_image_header_stub_roundtrips_all_three_formats():
    """The encoder twin for the header parse: PNG (with a real IHDR CRC),
    GIF, and BMP stubs all round-trip their dimensions through
    parse_image_header."""
    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        make_image_header_stub,
        parse_image_header,
    )

    for kind in ("png", "gif", "bmp"):
        for w, h in [(16, 16), (641, 479), (65535, 2)]:
            assert parse_image_header(make_image_header_stub(kind, w, h)) == (w, h)
    with pytest.raises(ValueError, match="unknown header kind"):
        make_image_header_stub("tiff", 1, 1)


@pytest.mark.skipif(
    _pil_available(), reason="error path only reachable without PIL"
)
def test_real_codec_absent_raises_informatively(spark):
    """Without PIL the real-codec branch must fail with the documented
    NotImplementedError surfaced through the UDF boundary — not a silent
    fallback to the stub (a pipeline configured for real decode must never
    emit stub geometry)."""
    from py4j.protocol import Py4JJavaError

    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        decode_image_features,
    )

    df = spark.createDataFrame(
        [(0, bytearray(b"not-an-image"))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception) as exc_info:
        decode_image_features(df, use_real_codec=True).collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, Py4JJavaError
    )
    assert "codec not available" in str(exc_info.value)


@pytest.fixture(scope="module")
def clustered_corpus(spark):
    """Deterministic planted-cluster embedding corpus (the committed
    fixture the recall story was missing: sf labels are geometry-
    uncorrelated by construction, so sf recall numbers are the isotropic
    WORST case — this corpus is the clustered case a real embedding model
    produces).  16 well-separated unit centers in 64-dim; 120 members per
    cluster at within-cluster cosine ≈ 0.89; 80 isotropic noise vectors.
    Generated from a fixed seed — identical on every machine."""
    import numpy as np

    rng = np.random.default_rng(20240814)
    dim, n_clusters, per_cluster, n_noise = 64, 16, 120, 80
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            g = rng.standard_normal(dim)
            g /= np.linalg.norm(g)
            v = centers[c] + 0.35 * g
            v /= np.linalg.norm(v)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    for _ in range(n_noise):
        g = rng.standard_normal(dim)
        g /= np.linalg.norm(g)
        rows.append((vid, -1, [float(x) for x in g]))
        vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, true_cluster int, embedding array<float>"
    ).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.slow_probe
def test_ann_recall_table_on_clustered_corpus(spark, clustered_corpus):
    """The clustered-data recall table for COVERAGE.md (companion to the
    isotropic sf table): trained IVF must route clustered queries to the
    right cells — recall@5 high already at nprobe=1 and monotone in
    nprobe — and pure PQ (32× compression) must hold a usable shortlist
    recall on the same geometry."""
    from etl_cloud_logistics_spark.operators.similarity import (
        knn_pq,
        knn_sq8,
        recall_at_k,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    emb = clustered_corpus.select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") % 50 == 0)  # 40 queries
    exact = knn_bruteforce(queries, emb, k=5).persist()
    exact.count()

    cents = train_ivf_centroids(emb, n_clusters=16, n_iter=4)
    ivf = {}
    for nprobe in (1, 2, 4):
        # a shortlist covering every candidate = the float IVF ranking
        approx = knn_sq8(
            queries, emb, k=5, centroids=cents, nprobe=nprobe, shortlist=10**6
        )
        ivf[nprobe] = recall_at_k(approx, exact).agg(F.avg("recall")).first()[0]

    books = train_pq_codebooks(emb, m=8, k=16, n_iter=3, dim=64)
    pq = {}
    for sl in (20, 100, 200):
        pq[sl] = (
            recall_at_k(
                knn_pq(queries, emb, k=5, codebooks=books, dim=64, shortlist=sl),
                exact,
            )
            .agg(F.avg("recall"))
            .first()[0]
        )
    print(
        "clustered recall@5 — trained IVF nprobe=1/2/4: "
        f"{ivf[1]:.3f}/{ivf[2]:.3f}/{ivf[4]:.3f}; "
        f"PQ(m=8,k=16) shortlist=20/100/200: "
        f"{pq[20]:.3f}/{pq[100]:.3f}/{pq[200]:.3f}"
    )
    exact.unpersist()
    assert ivf[1] >= 0.8  # clustered data: the quantizer finds the cell
    assert ivf[1] <= ivf[2] + 1e-9 and ivf[2] <= ivf[4] + 1e-9
    assert ivf[4] >= 0.9
    # PQ on HARD geometry (within-cluster gaps smaller than reconstruction
    # noise): the default 4k shortlist collapses (~0.2) and DEPTH is the
    # serving lever that buys recall back — the exact rerank recovers
    # whatever the shortlist admits.  Pin the curve, not one point.
    assert pq[20] <= pq[100] <= pq[200] + 1e-9
    assert pq[100] >= 0.85
    assert pq[200] >= 0.95


def test_cm_sketch_never_undercounts_and_exact_when_wide(spark):
    """CM point estimates are one-sided: MIN over depth hash rows can only
    overcount (collisions inflate, nothing decrements).  With a grid much
    wider than the vocabulary, collisions vanish and estimates go exact."""
    from etl_cloud_logistics_spark.operators.heavyhitters import cm_lookup, cm_sketch

    rows = [(f"w{i % 37}",) for i in range(1500)] + [("rare",)]
    items = spark.createDataFrame(rows, ["term"])
    tf = items.groupBy("term").agg(F.count("*").alias("cnt"))

    # narrow grid: collisions likely, but never an undercount
    cells = cm_sketch(tf, "term", "cnt", depth=4, width=16)
    est = cm_lookup(cells, tf.select("term"), "term", depth=4, width=16)
    joined = {r["term"]: (r["cnt"], r["cm_estimate"])
              for r in tf.join(est, "term").collect()}
    assert len(joined) == 38
    assert all(est >= true for true, est in joined.values())

    # wide grid: no collisions at this vocabulary -> exact
    cells_w = cm_sketch(tf, "term", "cnt", depth=4, width=65536)
    est_w = cm_lookup(cells_w, tf.select("term"), "term", depth=4, width=65536)
    for r in tf.join(est_w, "term").collect():
        assert r["cm_estimate"] == r["cnt"], r

    # probing an item the build never saw: its buckets are empty in the
    # wide grid, so the estimate must be exactly 0 (left join + coalesce —
    # an inner join would silently drop the probe or overstate it)
    unseen = spark.createDataFrame([("never-built",)], ["term"])
    got = cm_lookup(cells_w, unseen, "term", depth=4, width=65536).collect()
    assert len(got) == 1 and got[0]["cm_estimate"] == 0


def test_remove_duplicated_spans_excises_planted_boilerplate(spark, tmp_path):
    """Two docs share a 10-word boilerplate run; the transform must cut the
    shared words from BOTH hosts, leave the unique doc byte-identical, and
    account n_removed exactly."""
    import os

    from etl_cloud_logistics_spark.queries.text_ops import remove_duplicated_spans

    boiler = "the quick brown fox jumps over the lazy sleeping dog"
    docs = [
        (1, f"alpha beta gamma {boiler} delta epsilon", "en", "s1", 0),
        (2, f"one two {boiler} three four five six", "en", "s2", 0),
        (3, "entirely unique words nothing shared here at all today friend",
         "en", "s3", 0),
    ]
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        docs, ["doc_id", "text", "lang", "source", "n_chars"]
    ).write.parquet(f"{sf_dir}/documents.parquet")

    out = {r["doc_id"]: r for r in remove_duplicated_spans(spark, sf_dir).collect()}
    # the 10 boilerplate words are covered by duplicated 8-gram spans in both
    # hosts; the unique doc keeps every word
    for d in (1, 2):
        assert "quick brown fox" not in out[d]["clean_text"]
        assert out[d]["n_removed"] == 10, out[d]
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon"
    assert out[2]["clean_text"] == "one two three four five six"
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == docs[2][1]


def test_kmv_sketch_accuracy_exhaustive_branch_and_union_merge(spark):
    """KMV contract: (a) a side with fewer than k distinct keys is its own
    exhaustive sketch and estimates EXACTLY; (b) at n >> k the basic
    estimator lands within a few sigma (1/sqrt(k-2)); (c) the k smallest
    of two merged sketches IS the union's sketch (the mergeability that
    makes intersection possible), row-for-row."""
    from etl_cloud_logistics_spark.operators.kmv import (
        kmv_estimate,
        kmv_sketch,
    )

    k = 256
    big = spark.createDataFrame([(i,) for i in range(20000)], ["key"])
    small = spark.createDataFrame([(i,) for i in range(50)], ["key"])

    # (a) exhaustive: n < k -> exact
    s_small = kmv_sketch(small, "key", k)
    est_small = kmv_estimate(
        s_small.agg(F.count("*").alias("n"), F.max("h").alias("vk")), k
    ).first()["est"]
    assert est_small == 50.0

    # (b) accuracy: 1/sqrt(254) ~ 6.3%; allow 4 sigma
    s_big = kmv_sketch(big, "key", k)
    est_big = kmv_estimate(
        s_big.agg(F.count("*").alias("n"), F.max("h").alias("vk")), k
    ).first()["est"]
    assert abs(est_big - 20000) / 20000 < 0.25, est_big

    # (c) union merge: k smallest of (sketch_a ∪ sketch_b) == sketch of
    # (A ∪ B) — verified against the sketch built from the unioned input
    a = spark.createDataFrame([(i,) for i in range(10000)], ["key"])
    b = spark.createDataFrame([(i,) for i in range(5000, 15000)], ["key"])
    merged = (
        kmv_sketch(a, "key", k).unionByName(kmv_sketch(b, "key", k))
        .distinct().orderBy("h").limit(k)
    )
    direct = kmv_sketch(a.unionByName(b), "key", k)
    assert [r["h"] for r in merged.collect()] == [
        r["h"] for r in direct.collect()
    ]


def test_winnowing_guarantee_and_selectivity(spark):
    """Winnowing guarantee (Schleimer et al.): any shared run of
    >= w + k - 1 words yields a shared fingerprint; disjoint-vocab docs
    share none; and selection keeps well under the full gram-hash set."""
    from etl_cloud_logistics_spark.operators.dedup import winnow_fingerprints

    run = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words = w+k-1
    rows = [
        (0, f"unique0 zero filler {run} tail0 end0 stop0 words0 pad0"),
        (1, f"other1 one padding {run} tail1 end1 stop1 words1 pad1"),
        (2, "nothing shared here at all nine ten eleven twelve thirteen"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=4, w=5)
    by_doc = {
        r.doc_id: set(r.fs)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("fs")).collect()
    }
    assert by_doc[0] & by_doc[1], "8-word shared run must share a fingerprint"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])
    # selectivity: far fewer fingerprints than gram positions (13 grams/doc)
    assert all(len(v) < 13 for v in by_doc.values())


def test_winnowing_shift_invariance_of_shared_run(spark):
    """The shared run is detected regardless of its offset in each doc —
    the property position-based schemes (fp_prefix) lack."""
    from etl_cloud_logistics_spark.operators.dedup import winnow_fingerprints

    run = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [
        (0, f"{run} completely different trailing content follows here now"),
        (1, f"leading words that differ a lot from others {run}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=4, w=5)
    by_doc = {
        r.doc_id: set(r.fs)
        for r in fps.groupBy("doc_id").agg(F.collect_set("fp").alias("fs")).collect()
    }
    assert by_doc[0] & by_doc[1]


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment ~1.0,
    Jaccard ~|A|/|B| — below any usable symmetric threshold."""
    from etl_cloud_logistics_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    excerpt = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    rows = [(0, excerpt), (1, f"{filler} {excerpt} {filler}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(df)
    cont = {(r.doc_a, r.doc_b): r.containment
            for r in containment_pairs(sh, threshold=0.8).collect()}
    assert cont.get((0, 1)) == 1.0  # every excerpt shingle is in the long doc
    jac = jaccard_pairs(sh, threshold=0.5).collect()
    assert not jac  # symmetric overlap misses the embedded excerpt

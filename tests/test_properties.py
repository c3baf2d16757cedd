"""Property-based checks (SURVEY.md §5): SCD2 invariants under random
update sequences, QA flag/clamp laws.  Few examples with tiny frames —
each example round-trips through Spark, so the budget is small but the
state space (change/no-change/new-key mixes over multiple merges) is the
part unit fixtures can't cover."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_cloud_logistics_spark.operators.quality import qa_flags
from etl_cloud_logistics_spark.operators.scd2 import scd2_apply

KEYS = [1, 2, 3]
DATES = ["2024-01-01", "2024-02-01", "2024-03-01"]

# per merge round: subset of keys staged, each with a value in a small domain
# (collisions with the previous value exercise the "unchanged" path)
round_strategy = st.dictionaries(
    st.sampled_from(KEYS), st.integers(min_value=0, max_value=2), max_size=3
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rounds=st.lists(round_strategy, min_size=1, max_size=3))
def test_scd2_invariants_hold_under_any_update_sequence(spark, rounds):
    dim = (
        spark.createDataFrame([], "k int, v int")
        .withColumn("valid_from", F.lit(None).cast("date"))
        .withColumn("valid_to", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    for staged, eff in zip(rounds, DATES):
        if not staged:
            continue
        stg = spark.createDataFrame(list(staged.items()), "k int, v int")
        dim = scd2_apply(dim, stg, keys=["k"], tracked=["v"], effective_date=eff)
    rows = dim.collect()

    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["k"], []).append(r)
    for k, versions in by_key.items():
        # exactly one open version per key
        assert sum(1 for r in versions if r["is_current"]) == 1
        # open version has no valid_to; closed ones do
        for r in versions:
            assert (r["valid_to"] is None) == bool(r["is_current"])
        # windows are chronologically chained: each closed row's valid_to is
        # the valid_from of exactly one later version
        ordered = sorted(versions, key=lambda r: r["valid_from"])
        for prev, nxt in zip(ordered, ordered[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
        # consecutive versions always differ in the tracked attribute
        for prev, nxt in zip(ordered, ordered[1:]):
            assert prev["v"] != nxt["v"]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=-100, max_value=100),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_qa_flags_laws(spark, vals):
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(vals)], "id int, a int, b int")
    out = qa_flags(df, ["a", "b"]).collect()
    for r, (a0, b0) in zip(sorted(out, key=lambda r: r["id"]), vals):
        # clamped to zero, flags reflect the ORIGINAL sign
        assert r["a"] == max(a0, 0) and r["b"] == max(b0, 0)
        assert r["qa_flag_a"] == (a0 < 0) and r["qa_flag_b"] == (b0 < 0)
        # qa_passed iff nothing was flagged
        assert r["qa_passed"] == (not (r["qa_flag_a"] or r["qa_flag_b"]))


# --- round-4 operators ------------------------------------------------------


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    word=st.text(alphabet="abcdefgh", min_size=1, max_size=12),
    pairs=st.lists(
        st.tuples(
            st.text(alphabet="abcdefgh", min_size=1, max_size=3),
            st.text(alphabet="abcdefgh", min_size=1, max_size=3),
        ),
        max_size=10,
    ),
)
def test_bpe_segmentation_round_trips_under_any_merge_table(word, pairs):
    """Greedy BPE apply only ever concatenates adjacent symbols, so for ANY
    word and ANY merge table the tokens must concatenate back to the word +
    end marker — the invariant that makes token counts trustworthy.  Pure
    Python: no Spark round-trip per example, so the budget is generous."""
    from etl_cloud_logistics_spark.operators.tokenize import END, segment_word

    ranks = {p: i for i, p in enumerate(pairs)}
    seg = segment_word(word, ranks)
    assert "".join(seg) == word + END
    assert all(seg)  # no empty symbols


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    items=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=300),
    k=st.integers(min_value=2, max_value=8),
)
def test_misra_gries_bounds_hold_for_any_stream(spark, items, k):
    """For ANY stream and ANY k: merged estimates never overcount, never
    undercount by more than n/(k+1), and no item heavier than the bound is
    lost — the three clauses of the MG theorem, not just the Zipf case."""
    from pyspark.sql import functions as F  # noqa: F811

    from etl_cloud_logistics_spark.operators.heavyhitters import mg_sketch_partials

    df = spark.createDataFrame([(str(i),) for i in items], "item string").repartition(2)
    merged = {
        r["item"]: r["est"]
        for r in mg_sketch_partials(df, "item", k)
        .groupBy("item")
        .agg(F.sum("cnt").alias("est"))
        .collect()
    }
    true: dict[str, int] = {}
    for i in items:
        true[str(i)] = true.get(str(i), 0) + 1
    err = len(items) / (k + 1)
    for it, est in merged.items():
        assert est <= true[it]
        assert true[it] - est <= err
    for it, c in true.items():
        if c > err:
            assert it in merged


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=50), st.sampled_from("abc")),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    n=st.integers(min_value=1, max_value=5),
)
def test_stratified_sample_exact_properties(spark, rows, n):
    """For ANY strata layout: per-stratum size == min(n, |stratum|), the
    sample is a subset of the input, and resampling is identical."""
    from etl_cloud_logistics_spark.operators.curation import stratified_sample_exact

    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample_exact(df, ["lang"], "doc_id", n)
    got = [(r.doc_id, r.lang) for r in out.collect()]
    sizes: dict[str, int] = {}
    for _, lang in rows:
        sizes[lang] = sizes.get(lang, 0) + 1
    from collections import Counter

    got_sizes = Counter(lang for _, lang in got)
    for lang, total in sizes.items():
        assert got_sizes[lang] == min(n, total), lang
    assert set(got) <= set(rows)
    again = [(r.doc_id, r.lang) for r in stratified_sample_exact(df, ["lang"], "doc_id", n).collect()]
    assert sorted(got) == sorted(again)


def test_typed_hash_properties():
    """The driver-hash stand-in (tools/verify_local.typed_hash) must be
    row-order-insensitive and column-order-insensitive but TYPE-sensitive
    — int64 170 != float64 170.0 is precisely the HUGEINT failure mode it
    exists to catch — while canonicalizing the sign of zero (legal IEEE
    split, not type drift)."""
    import os
    import sys

    import pandas as pd

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.verify_local import typed_hash

    a = pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]})
    # row permutation
    assert typed_hash(a) == typed_hash(a.iloc[[2, 0, 1]].reset_index(drop=True))
    # column order
    assert typed_hash(a) == typed_hash(a[["y", "x"]])
    # type sensitivity: same values, int vs float dtype
    f = a.copy()
    f["x"] = f["x"].astype(float)
    assert typed_hash(a) != typed_hash(f)
    # value sensitivity
    b = a.copy()
    b.loc[0, "x"] = 99
    assert typed_hash(a) != typed_hash(b)
    # sign-of-zero canonicalization (both float dtype)
    z1 = pd.DataFrame({"x": [0.0]})
    z2 = pd.DataFrame({"x": [-0.0]})
    assert typed_hash(z1) == typed_hash(z2)
    # null vs value
    n1 = pd.DataFrame({"x": [None]}, dtype="object")
    n2 = pd.DataFrame({"x": ["null"]}, dtype="object")
    assert typed_hash(n1) != typed_hash(n2)
    # integer WIDTH sensitivity (r8 ADVICE): int32 vs int64 same values —
    # the DuckDB INTEGER vs Spark BIGINT drift a width-less tag missed
    w32 = pd.DataFrame({"x": pd.array([1, 2, 3], dtype="int32")})
    w64 = pd.DataFrame({"x": pd.array([1, 2, 3], dtype="int64")})
    assert typed_hash(w32) != typed_hash(w64)
    # same width on both sides still agrees
    assert typed_hash(w64) == typed_hash(pd.DataFrame({"x": [1, 2, 3]}))
    # separator-collision resistance (r8 ADVICE): a '|' or newline inside a
    # string cell must not let two different frames render identically
    s1 = pd.DataFrame({"a": ["x|s:y"], "b": ["z"]})
    s2 = pd.DataFrame({"a": ["x"], "b": ["s:y|z"]})
    assert typed_hash(s1) != typed_hash(s2)
    t1 = pd.DataFrame({"a": ["p\nq"]})  # one cell with an embedded newline
    t2 = pd.DataFrame({"a": ["p", "q"]})  # two rows — must not collide
    assert typed_hash(t1) != typed_hash(t2)


def test_temporal_kind_check_catches_date_timestamp_drift(spark):
    """The DATE/TIMESTAMP blind spot, pinned (r9, VERDICT r8 #7).

    Documented insensitivity: after pandas conversion, a DATE and a
    midnight TIMESTAMP render identically (DuckDB DATE arrives as
    datetime64; the typed hash's ``t:`` tag unifies deliberately), so
    NO pandas-level hash — ours or the driver's — can be relied on to see
    a DATE-vs-TIMESTAMP drift.  The guard that makes the unification safe
    is source-level: ``temporal_mismatches`` compares Spark's analyzed
    schema against the DuckDB cursor's declared result types and must go
    red on exactly this drift while staying green on aligned types."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.verify_local import temporal_mismatches, typed_hash

    con = duckdb.connect()
    # deliberate drift: Spark emits DATE, oracle emits TIMESTAMP
    sdf_frame = spark.sql("SELECT DATE '2024-01-02' AS d")
    cur = con.execute("SELECT TIMESTAMP '2024-01-02 00:00:00' AS d")
    desc = cur.description
    # 1) the hashes unify — the documented blind spot this test pins
    assert typed_hash(sdf_frame.toPandas()) == typed_hash(cur.df())
    # 2) the source-level check catches it
    probs = temporal_mismatches(sdf_frame.schema, desc)
    assert probs and "temporal kind drift" in probs[0], probs
    # 3) aligned types stay green (DATE==DATE, TIMESTAMP==TIMESTAMP,
    #    non-temporal columns ignored)
    ok_frame = spark.sql(
        "SELECT DATE '2024-01-02' AS d, TIMESTAMP '2024-01-02 03:00:00' AS t, 1 AS k"
    )
    ok_desc = con.execute(
        "SELECT DATE '2024-01-02' AS d, TIMESTAMP '2024-01-02 03:00:00' AS t, 1 AS k"
    ).description
    assert temporal_mismatches(ok_frame.schema, ok_desc) == []


def test_numeric_kind_check_catches_decimal_double_drift(spark):
    """The DECIMAL/FLOAT blind spot, pinned (r10, VERDICT r9 #7).

    Documented insensitivity: a Spark DECIMAL(38,6) and an oracle DOUBLE
    render identically in pandas for any value a double represents
    exactly, and a float32 widens silently to float64 — so no
    pandas-level compare can see a DECIMAL-vs-DOUBLE or FLOAT-vs-DOUBLE
    cross-typing.  ``kind_mismatches`` extends the r9 temporal
    source-level check to numeric kinds: Spark's analyzed schema vs the
    DuckDB cursor's declared types."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.verify_local import (
        duck_described_types,
        kind_mismatches,
        typed_hash,
    )

    con = duckdb.connect()

    def check(spark_sql: str, duck_sql: str) -> list[str]:
        frame = spark.sql(spark_sql)
        cur = con.execute(duck_sql)
        return kind_mismatches(
            frame.schema, cur.description, duck_described_types(con, duck_sql)
        )

    # deliberate drift #1: Spark emits DECIMAL(38,6), oracle emits DOUBLE.
    # The exact values agree after pandas conversion — the blind spot —
    # and the DBAPI cursor description reads 'NUMBER' for both, which is
    # why the check needs the DESCRIBE-derived types.
    assert float(
        spark.sql("SELECT CAST(1.25 AS DECIMAL(38,6)) AS x").toPandas()["x"][0]
    ) == float(con.execute("SELECT CAST(1.25 AS DOUBLE) AS x").df()["x"][0])
    probs = check(
        "SELECT CAST(1.25 AS DECIMAL(38,6)) AS x",
        "SELECT CAST(1.25 AS DOUBLE) AS x",
    )
    assert probs and "numeric kind drift" in probs[0], probs

    # deliberate drift #2: Spark float32 vs oracle DOUBLE — the hashes
    # unify (pandas widens), the source check must not
    assert typed_hash(
        spark.sql("SELECT CAST(0.5 AS FLOAT) AS x").toPandas()
    ) == typed_hash(con.execute("SELECT CAST(0.5 AS DOUBLE) AS x").df())
    probs = check(
        "SELECT CAST(0.5 AS FLOAT) AS x", "SELECT CAST(0.5 AS DOUBLE) AS x"
    )
    assert probs and "numeric kind drift" in probs[0], probs

    # deliberate drift #3: DECIMAL precision/scale mismatch across engines
    probs = check(
        "SELECT CAST(1.25 AS DECIMAL(38,6)) AS x",
        "SELECT CAST(1.25 AS DECIMAL(18,2)) AS x",
    )
    assert probs and "numeric kind drift" in probs[0], probs

    # aligned kinds stay green: DOUBLE==DOUBLE, DECIMAL(38,6)==DECIMAL(38,6),
    # FLOAT==FLOAT/REAL, integers ignored (typed hash already tags widths);
    # a WITH-wrapped oracle DESCRIBEs fine too
    assert (
        check(
            "SELECT CAST(1 AS DOUBLE) AS a, CAST(2.5 AS DECIMAL(38,6)) AS b, "
            "CAST(0.5 AS FLOAT) AS c, 3 AS k",
            "WITH t AS (SELECT 1 one) "
            "SELECT CAST(one AS DOUBLE) AS a, CAST(2.5 AS DECIMAL(38,6)) AS b, "
            "CAST(0.5 AS REAL) AS c, 3 AS k FROM t",
        )
        == []
    )


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=60,
    ),
    extra_ids=st.sets(st.integers(0, 40), max_size=6),
)
def test_cc_label_propagation_equals_union_find_property(spark, edges, extra_ids):
    """Property pin for neardup_components: on ANY random multigraph (dups,
    reversals, self-loops, isolated ids and an empty pair list included),
    min-label propagation gives the same map as a driver-side union-find —
    component(x) = min id reachable from x."""
    from etl_cloud_logistics_spark.operators.dedup import neardup_components

    ids = sorted({a for a, _ in edges} | {b for _, b in edges} | extra_ids)
    if not ids:
        return
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # roots stay component minima
    want = {i: find(i) for i in ids}
    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    id_df = spark.createDataFrame([(int(i),) for i in ids], "doc_id long")
    lab = {
        r["doc_id"]: r["component"]
        for r in neardup_components(pairs, id_df, max_iter=80).collect()
    }
    assert lab == want


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    nch=st.integers(1, 2),
    rate=st.integers(1, 48_000),
    frames=st.integers(0, 200),
    amp=st.integers(0, 32_767),
)
def test_wav_roundtrip_property(nch, rate, frames, amp):
    """Driver-side codec property: for ANY (channels, rate, frames,
    amplitude) the stdlib decode recovers exactly what the stdlib encode
    wrote — header fields, frame count, floor duration, and RMS == amp
    (a ±A square wave's mean square is A² exactly; sqrt(A²) == A for
    integer A ≤ 2¹⁵ since both are exact doubles)."""
    import array
    import io
    import math
    import wave

    from etl_cloud_logistics_spark.multimodal.binary_ops import make_wav

    payload = make_wav(nch, rate, frames, amp)
    with wave.open(io.BytesIO(payload)) as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (
            nch, 2, rate,
        )
        assert w.getnframes() == frames
        data = w.readframes(frames)
    samples = array.array("h")
    samples.frombytes(data)
    assert len(samples) == frames * nch
    if frames:
        assert {abs(s) for s in samples} == {amp}
        rms = math.sqrt(sum(s * s for s in samples) / len(samples))
        assert rms == float(amp)


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(ts=st.integers(1, 2**32 - 1), dur=st.integers(0, 2**32 - 1))
def test_mp4_mvhd_roundtrip_property(ts, dur):
    """The ISO BMFF box walk recovers any uint32 (timescale, duration) the
    stub encoder writes, over the full field domain."""
    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        make_mp4_stub,
        parse_mp4_mvhd,
    )

    assert parse_mp4_mvhd(make_mp4_stub(ts, dur)) == (ts, dur)


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    kind=st.sampled_from(["png", "gif", "bmp"]),
    w=st.integers(1, 65_535),
    h=st.integers(1, 65_535),
)
def test_image_header_roundtrip_property(kind, w, h):
    """Every header format recovers any in-domain (width, height) its
    container can represent (GIF/BMP-stub fields are uint16-bounded here;
    PNG's uint32 headroom is covered by the 70000-width case in
    test_header_parse_real_codec_no_dependency)."""
    from etl_cloud_logistics_spark.multimodal.binary_ops import (
        make_image_header_stub,
        parse_image_header,
    )

    assert parse_image_header(make_image_header_stub(kind, w, h)) == (w, h)

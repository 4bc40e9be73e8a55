"""Per-operator unit tests (SURVEY §5 item 1): minimal DataFrame-in /
DataFrame-out fixtures with hand-computable answers."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from log_analysis_system_spark.operators import (
    bin_ratio_aggregate,
    conversion_rates,
    explode_count,
    global_topn,
    grouped_topn,
    page_splits,
    session_aggregate,
    sessionize,
)
from tests.conftest import SF_DIR, assert_matches_oracle, canon_hash


def ts(minute: int, second: int = 0):
    return datetime(2024, 1, 1, minute // 60, minute % 60, second)


def test_sessionize_gap_boundaries(spark):
    rows = [
        (1, 1, ts(0)),
        (2, 1, ts(29)),   # 29 min gap -> same session
        (3, 1, ts(59)),   # exactly 30 min gap -> same session (strict >)
        (4, 1, ts(90)),   # 31 min gap -> new session
        (5, 2, ts(0)),    # other user -> own session
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = sessionize(df, gap_minutes=30, tiebreak_col="event_id")
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got[1] == got[2] == got[3] == "1_1"
    assert got[4] == "1_2"
    assert got[5] == "2_1"


def test_session_aggregate_stats(spark):
    rows = [
        (1, 1, ts(0), "view"),
        (2, 1, ts(1), "click"),
        (3, 1, ts(2), "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    ).withColumn("session_id", F.lit("1_1"))
    row = session_aggregate(df).collect()[0]
    assert row["step_length"] == 3
    assert row["visit_length"] == 120
    assert row["payloads"] == "click,view"  # sorted distinct
    assert row["user_id"] == 1


def test_grouped_topn_ties_deterministic(spark):
    rows = [("a", 1, 10), ("a", 2, 10), ("a", 3, 5), ("b", 4, 1)]
    df = spark.createDataFrame(rows, "grp string, id long, score long")
    out = grouped_topn(
        df, ["grp"], [F.desc("score"), F.asc("id")], 2, rank_col="r"
    ).collect()
    got = {(r["grp"], r["r"]): r["id"] for r in out}
    assert got[("a", 1)] == 1  # tie broken by id asc
    assert got[("a", 2)] == 2
    assert got[("b", 1)] == 4


def test_global_topn_limit(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "v long")
    out = global_topn(df, [F.desc("v")], 3).collect()
    assert [r["v"] for r in out] == [99, 98, 97]


def test_bin_ratio_aggregate_half_up(spark):
    # 1 of 8 rows in bin -> 0.125 rounds HALF_UP to 0.13 (reference F5
    # BigDecimal HALF_UP semantics, util/NumberUtils.java:17-20)
    df = spark.createDataFrame([(i,) for i in range(8)], "v long")
    row = bin_ratio_aggregate(df, {"zero": F.col("v") == 0}).collect()[0]
    assert row["session_count"] == 8
    assert row["zero_ratio"] == 0.13


def test_explode_count(spark):
    df = spark.createDataFrame(
        [("1,2,2",), (None,), ("2",), ("",)], "ids string"
    )
    got = {r["id"]: r["cnt"] for r in explode_count(df, "ids").collect()}
    assert got == {"1": 1, "2": 3}


def test_page_splits_and_funnel(spark):
    rows = [
        (1, "s1", ts(0), "view"),
        (2, "s1", ts(1), "click"),
        (3, "s1", ts(2), "purchase"),
        (4, "s2", ts(0), "view"),
        (5, "s2", ts(1), "purchase"),  # skips click -> no view_click pair
    ]
    df = spark.createDataFrame(
        rows, "event_id long, session_id string, ts timestamp, page_id string"
    )
    splits = page_splits(df, page_col="page_id", tiebreak_col="event_id")
    rates = conversion_rates(splits, ["view", "click", "purchase"], 2)
    got = {r["split"]: (r["split_pv"], r["convert_rate"]) for r in rates.collect()}
    assert got == {"view_click": (1, 0.5), "click_purchase": (1, 1.0)}


def test_funnel_rate_zero_start(spark):
    """No start-page traffic: the rate is NULL (SQL division by zero), not
    an ANSI DIVIDE_BY_ZERO error."""
    df = spark.createDataFrame(
        [], "event_id long, session_id string, ts timestamp, page_id string"
    )
    splits = page_splits(df, page_col="page_id", tiebreak_col="event_id")
    rates = conversion_rates(splits, ["a", "b"], 2)
    assert [tuple(r) for r in rates.collect()] == [("a_b", 0, None)]


def test_funnel_rate_zero_count_split_mid_chain(spark):
    """A split with no traffic rates 0 against the start page, and the split
    after it divides by that zero: NULL. The start page is matched as the
    string the splits are built from, so an integer page column counts."""
    rows = [
        (1, "s1", ts(0), 1),
        (2, "s1", ts(1), 1),
        (3, "s2", ts(0), 2),
        (4, "s2", ts(1), 3),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, session_id string, ts timestamp, page_id int"
    )
    splits = page_splits(df, page_col="page_id", tiebreak_col="event_id")
    rates = conversion_rates(splits, ["1", "2", "3"], 2)
    assert sorted(tuple(r) for r in rates.collect()) == [
        ("1_2", 0, 0.0),
        ("2_3", 1, None),
    ]


def test_funnel_rate_one_page_flow_has_no_steps(spark):
    df = spark.createDataFrame(
        [(1, "s1", ts(0), "a")],
        "event_id long, session_id string, ts timestamp, page_id string",
    )
    splits = page_splits(df, page_col="page_id", tiebreak_col="event_id")
    rates = conversion_rates(splits, ["a"], 2)
    assert rates.collect() == []
    assert rates.columns == ["split", "split_pv", "convert_rate"]


def test_resize_images_pads_and_crops(spark):
    from log_analysis_system_spark.operators.multimodal import resize_images

    media = spark.createDataFrame(
        [(1, bytearray(b"abcdef")), (2, bytearray(b"xy"))],
        "media_id long, payload binary",
    )
    out = {
        r["media_id"]: r
        for r in resize_images(media, width=2, height=2).collect()
    }
    assert bytes(out[1]["payload"]) == b"abcd"          # cropped to 4
    assert bytes(out[2]["payload"]) == b"xy\x00\x00"    # zero-padded to 4
    assert out[1]["meta_width"] == 2 and out[1]["meta_height"] == 2


def test_sample_frames_fanout(spark):
    from log_analysis_system_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, bytearray(b"0123456789"))], "media_id long, payload binary"
    )
    rows = sorted(
        sample_frames(media, frame_size=4, stride=4).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [bytes(r["frame_payload"]) for r in rows] == [b"0123", b"4567", b"89"]


def test_image_codec_roundtrips():
    """Real dependency-free codec: PPM(P6) and 24-bpp BMP encode→decode
    must be bit-exact, including PPM comment handling, BMP row padding
    (width not a multiple of 4), top-down BMP, and format rejection."""
    import numpy as np
    import pytest

    from log_analysis_system_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(7)
    for h, w in [(11, 13), (1, 1), (5, 4)]:
        a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (decode_image(encode_ppm(a)) == a).all()
        assert (decode_image(encode_bmp(a)) == a).all()

    a = rng.integers(0, 256, (3, 5, 3), dtype=np.uint8)
    commented = b"P6\n# c1\n5 3\n# c2\n255\n" + a.tobytes()
    assert (decode_image(commented) == a).all()

    # top-down BMP (negative height)
    import struct

    bmp = bytearray(encode_bmp(a))
    struct.pack_into("<i", bmp, 22, -3)  # height := -3
    row = (5 * 3 + 3) & ~3
    raster = np.frombuffer(bmp[54:], dtype=np.uint8).reshape(3, row).copy()
    bmp[54:] = raster[::-1].tobytes()  # store rows top-down
    assert (decode_image(bytes(bmp)) == a).all()

    with pytest.raises(ValueError, match="unsupported image format"):
        decode_image(b"GIF89a+junk")
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P6\n4 4\n255\nshort")


def test_decode_features_real_pixels(spark):
    """decode_features must compute exact channel sums from REAL decoded
    rasters — verified against numpy on the same payloads, for both PPM
    and BMP payloads in one DataFrame."""
    import hashlib

    import numpy as np

    from log_analysis_system_spark.operators.multimodal import (
        decode_features,
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(11)
    a1 = rng.integers(0, 256, (4, 6, 3), dtype=np.uint8)
    a2 = rng.integers(0, 256, (8, 3, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(encode_ppm(a1))), (2, bytearray(encode_bmp(a2)))],
        "media_id long, payload binary",
    )
    out = {r["media_id"]: r for r in decode_features(media).collect()}
    for mid, a in [(1, a1), (2, a2)]:
        r = out[mid]
        assert (r["height"], r["width"]) == a.shape[:2]
        s = a.sum(axis=(0, 1), dtype="int64")
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(int(v) for v in s)
        assert r["raster_md5"] == hashlib.md5(a.tobytes()).hexdigest()


def test_ann_ivf_recall_vs_brute(spark):
    """IVF is approximate; its value is recall at a fraction of the scan cost.
    Gate: recall@5 vs the brute-force baseline >= 0.5 on the sf0.001 corpus
    (N_PROBE=4 of ~2 cells at this scale probes nearly everything)."""
    from log_analysis_system_spark.queries import QUERIES, load_all

    load_all()
    brute = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["ann_brute_topk"](spark, SF_DIR).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in QUERIES["ann_ivf_topk"](spark, SF_DIR).collect()
    }
    assert brute, "brute-force baseline returned nothing"
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.5, f"IVF recall@5 too low: {recall:.2f}"


def test_range_join_bucket_boundaries(spark):
    """Matches exactly at ±d (inclusive) and across bucket boundaries;
    non-matches one second past d are excluded."""
    from datetime import datetime as dt

    from log_analysis_system_spark.operators.rangejoin import range_join

    base = dt(2024, 1, 1, 0, 10, 0)

    def t(s):
        return dt.fromtimestamp(base.timestamp() + s)

    left = spark.createDataFrame(
        [(1, "L", t(0))], "user_id long, lid string, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, "exact+", t(60)), (1, "exact-", t(-60)), (1, "in", t(33)),
         (1, "out+", t(61)), (1, "out-", t(-61)), (2, "wrong-key", t(0))],
        "user_id long, rid string, rts timestamp",
    )
    got = {
        r["rid"]
        for r in range_join(
            left, right, "lts", "rts", max_diff_s=60, keys=["user_id"]
        ).collect()
    }
    assert got == {"exact+", "exact-", "in"}


def test_range_join_is_hash_join_not_nested_loop(spark):
    from datetime import datetime as dt

    from log_analysis_system_spark.operators.rangejoin import range_join

    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1))], "user_id long, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, dt(2024, 1, 1))], "user_id long, rts timestamp"
    )
    plan = (
        range_join(left, right, "lts", "rts", 60, keys=["user_id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_normalize_text_masks_pii_and_collapses_whitespace(spark):
    from log_analysis_system_spark.queries.text_analysis import normalize_text

    rows = [
        (1, "Contact Bob.Smith+x@Example-Mail.co.uk  NOW"),
        (2, "see https://spark.apache.org/docs?q=1#frag\tplus text"),
        (3, "  Mixed\n\nCase   spacing  "),
        (4, "no-pii plain text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["norm"]
        for r in df.select(
            "doc_id", normalize_text(F.col("text")).alias("norm")
        ).collect()
    }
    assert out[1] == "contact <email> now"
    assert out[2] == "see <url> plus text"
    assert out[3] == "mixed case spacing"
    assert out[4] == "no-pii plain text"


def test_normalize_text_masks_match_duckdb_regex_dialect(spark, duck):
    """The oracle applies the same patterns via RE2; pin that the dialects
    agree on strings that actually contain maskable spans."""
    from log_analysis_system_spark.queries.text_analysis import (
        EMAIL_RE,
        URL_RE,
        WS_RE,
    )

    samples = [
        "a b.c@d-e.org c",
        "x http://t.co/y z",
        "u\t\nv",
        "plain",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "text string")
    from log_analysis_system_spark.queries.text_analysis import normalize_text

    got_spark = [
        r["n"] for r in df.select(normalize_text(F.col("text")).alias("n")).collect()
    ]
    got_duck = [
        duck.execute(
            f"""SELECT lower(trim(regexp_replace(regexp_replace(regexp_replace(
                ?, '{EMAIL_RE}', '<EMAIL>', 'g'), '{URL_RE}', '<URL>', 'g'),
                '{WS_RE}', ' ', 'g')))""",
            [s],
        ).fetchone()[0]
        for s in samples
    ]
    assert got_spark == got_duck


def test_near_dup_blocked_equals_single_block(spark):
    """The blocked broadcast matmul must be invariant to block size: the
    pair set from many small blocks == the single-block (round-1) form.
    An empty corpus must yield an empty frame, not raise."""
    from log_analysis_system_spark.queries.similarity import (
        _near_dup_pairs_exact,
        _quantized,
    )

    vecs = _quantized(spark, SF_DIR)
    single = {
        (r["vec_a"], r["vec_b"], r["dot"])
        for r in _near_dup_pairs_exact(vecs, 10**9).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"], r["dot"])
        for r in _near_dup_pairs_exact(vecs, 7).collect()
    }
    assert single == blocked
    assert single, "expected candidate pairs at sf0.001"
    empty = _near_dup_pairs_exact(vecs.where(F.lit(False)), 7)
    assert empty.count() == 0
    assert empty.columns == ["vec_a", "vec_b", "dot"]


def test_near_dup_lsh_recall_vs_exact(spark):
    """The banded-LSH near-dup path must emit a SUBSET of the exact
    all-pairs result with bit-identical values, at >= 85% recall even on
    the adversarial synthetic corpus whose true pairs sit at the 0.45
    threshold floor (real near-dup pairs are far above it, where banded
    collision probability approaches 1)."""
    from log_analysis_system_spark.queries import QUERIES, load_all

    load_all()
    exact = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in QUERIES["embedding_near_dup_exact"](spark, SF_DIR).collect()
    }
    banded = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in QUERIES["embedding_near_dup"](spark, SF_DIR).collect()
    }
    assert banded <= exact, "LSH path emitted a pair the exact path lacks"
    assert exact, "expected near-dup pairs at sf0.001"
    assert len(banded) / len(exact) >= 0.85


def test_connected_components_path_graph_and_convergence_guard(spark):
    """A 6-node path collapses to one component given enough rounds; with
    max_iters below the diameter the loop must RAISE, never silently return
    split components."""
    import pytest

    from log_analysis_system_spark.queries.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    labels = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(edges, max_iters=10).collect()
    }
    assert set(labels) == set(range(6))
    assert set(labels.values()) == {0}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=1)


def test_ivf_trained_centroids_improve_recall(spark):
    """Lloyd's training must not degrade recall vs the untrained mod-subset
    quantizer (measured: +0.15 at sf0.001/sf0.01), and the trained registry
    query's aggregate verdict must be TRUE."""
    from pyspark.sql import functions as SF

    from log_analysis_system_spark.queries import QUERIES, load_all
    from log_analysis_system_spark.queries.similarity import (
        CENT_MOD,
        _ivf_search,
        _quantized,
        q_ann_brute_topk,
        train_ivf_centroids,
    )

    load_all()
    vecs = _quantized(spark, SF_DIR)
    truth = q_ann_brute_topk(spark, SF_DIR).select("query_id", "neighbor_id")
    n_truth = truth.count()

    def recall(cents):
        hit = truth.join(
            _ivf_search(vecs, cents).select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        return hit / n_truth

    untrained = vecs.where(SF.col("vec_id") % CENT_MOD == 0).select(
        SF.col("vec_id").alias("cell_id"),
        SF.col("e").alias("ce"),
        SF.col("nrm").alias("cn"),
    )
    r0 = recall(untrained)
    r1 = recall(train_ivf_centroids(vecs))
    assert r1 >= r0, f"training degraded recall: {r1:.2f} < {r0:.2f}"
    assert r1 >= 0.5, f"trained recall@5 too low: {r1:.2f}"

    row = QUERIES["ann_ivf_trained_topk"](spark, SF_DIR).collect()[0]
    assert row["recall_ok"] is True
    assert row["n_queries"] == 10


def test_ivf_index_build_and_serve(spark, tmp_path):
    """Build/serve split: searching the PERSISTED index must return the same
    results as the in-memory trained search, and the probe plan must reach
    the assignment files through a cell partition filter."""
    from log_analysis_system_spark.queries.similarity import (
        N_QUERIES,
        _ivf_search,
        _quantized,
        build_ivf_index,
        search_ivf_index,
        train_ivf_centroids,
    )
    from pyspark.sql import functions as SF

    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, SF_DIR, idx)
    vecs = _quantized(spark, SF_DIR)
    queries_df = vecs.where(SF.col("vec_id") < N_QUERIES).select(
        SF.col("vec_id").alias("query_id"), "e", "nrm"
    )
    served = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in search_ivf_index(spark, idx, queries_df).collect()
    }
    in_mem = {
        (r["query_id"], r["neighbor_id"], r["cosine"])
        for r in _ivf_search(vecs, train_ivf_centroids(vecs)).collect()
    }
    assert served == in_mem
    assert served, "served search returned nothing"
    # partition pruning: assignments are laid out by cell_id
    import os

    assert any(
        d.startswith("cell_id=") for d in os.listdir(f"{idx}/assignments")
    )


def test_grouped_prefix_sum_matches_window_at_any_parallelism(spark):
    """grouped_prefix_sum must equal the naive per-group window running sum
    for every num_partitions — the offsets compose identically no matter
    where the range boundaries land."""
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as SF

    from log_analysis_system_spark.operators.sampling import grouped_prefix_sum

    rows = [
        Row(grp=f"g{i % 3}", k=i, v=(i * 7) % 11 - 3) for i in range(101)
    ]
    df = spark.createDataFrame(rows)
    w = Window.partitionBy("grp").orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expected = {
        (r.grp, r.k): r.c
        for r in df.withColumn("c", SF.sum("v").over(w)).collect()
    }
    for n in (1, 3, 7, 32):
        got = {
            (r.grp, r.k): r.c
            for r in grouped_prefix_sum(
                df, ["grp"], [SF.asc("k")], SF.col("v"), "c", num_partitions=n
            ).collect()
        }
        assert got == expected, f"mismatch at num_partitions={n}"


def test_incremental_dedup_delta_verdicts(spark, tmp_path):
    """All three verdict branches on a synthetic corpus: delta doc 4 is an
    exact copy of base doc 0, delta doc 9 is a near-dup (one word changed)
    of base doc 1, delta doc 14 is novel. (The driver corpus has no exact
    text collisions, so this branch is only reachable here.)"""
    from log_analysis_system_spark.queries.dedup import (
        q_incremental_dedup_delta,
    )

    base_text = "the quick brown fox jumps over the lazy dog again and again"
    near_text = "the quick brown fox leaps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, base_text, "en", "web", len(base_text)),
            (1, near_text.replace("leaps", "hops"), "en", "web", 60),
            (2, "completely unrelated text one two three", "en", "web", 40),
            (3, "another unrelated base document four five", "en", "web", 41),
            (4, base_text, "en", "web", len(base_text)),      # delta: exact
            (9, near_text, "en", "web", len(near_text)),       # delta: near
            (14, "zq xv wk yj pq mn bb cc dd ee ff gg", "en", "web", 36),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: (r["verdict"], r["n_candidates"], r["n_matches"])
        for r in q_incremental_dedup_delta(spark, str(tmp_path)).collect()
    }
    assert set(out) == {4, 9, 14}
    assert out[4][0] == "exact_dup"
    assert out[9][0] == "near_dup" and out[9][2] >= 1
    assert out[14] == ("accept", 0, 0)


def test_screen_delta_from_index_matches_inline_query(spark, tmp_path):
    """The persisted-index serve path (build_dedup_index + screen_delta)
    must produce exactly the inline incremental_dedup_delta verdicts."""
    from log_analysis_system_spark.queries.dedup import (
        DELTA_MOD,
        build_dedup_index,
        q_incremental_dedup_delta,
        screen_delta,
    )
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    is_delta = (F.col("doc_id") % DELTA_MOD) == (DELTA_MOD - 1)
    build_dedup_index(docs.where(~is_delta), str(tmp_path / "idx"))
    served = {
        tuple(r)
        for r in screen_delta(
            spark, str(tmp_path / "idx"), docs.where(is_delta)
        ).collect()
    }
    inline = {
        tuple(r) for r in q_incremental_dedup_delta(spark, SF_DIR).collect()
    }
    assert served == inline and served


def test_pq_codes_compact_and_recall_gate(spark):
    """PQ invariants: the trained codebook is exactly M_SUB x K_CODES
    codewords of SUB_DIM dims; every baked ADC score is nonnegative; and the
    registry query's aggregate recall verdict holds (measured recall@5: 0.76
    at sf0.001 — gate 0.5)."""
    from log_analysis_system_spark.queries import QUERIES, load_all
    from log_analysis_system_spark.queries.similarity import (
        _quantized,
    )
    from log_analysis_system_spark.queries.similarity_pq import (
        K_CODES,
        M_SUB,
        SUB_DIM,
        train_pq_codebooks,
    )

    load_all()
    vecs = _quantized(spark, SF_DIR)
    cb = train_pq_codebooks(vecs).collect()
    assert len(cb) == M_SUB * K_CODES
    assert {(r["sub"], r["code"]) for r in cb} == {
        (j, k) for j in range(M_SUB) for k in range(K_CODES)
    }
    assert all(len(r["cv"]) == SUB_DIM for r in cb)

    row = QUERIES["ann_pq_topk"](spark, SF_DIR).collect()[0]
    assert row["recall_ok"] is True
    assert row["n_queries"] == 10


def test_training_aggregate_reduction_matches_driver_merge(
    spark, duck, monkeypatch
):
    """With TRAIN_MERGE_MAX_ROWS at 0 every Lloyd round of the IVF and PQ
    trainers takes the JVM hash-aggregate reduction instead of the
    driver-merged mapInPandas partials. Both must give the same integer
    centroids and codebooks, and both registry queries must still match
    their oracles.

    With BAKE_MAX_CELLS at 0 the IVF trainer runs its distributed Lloyd
    rounds and both assignments (`_ivf_assign_top1`, `_kmeans_assigned`)
    their broadcast crossJoin + window forms: same centroids, same
    results."""
    from log_analysis_system_spark.queries import (
        ORACLES,
        QUERIES,
        load_all,
        similarity,
        similarity_pq,
    )

    load_all()
    vecs = similarity._quantized(spark, SF_DIR)

    def centroids():
        cents = similarity.train_ivf_centroids(vecs).collect()
        return sorted((r["cell_id"], list(r["ce"]), r["cn"]) for r in cents)

    def models():
        book = similarity_pq.train_pq_codebooks(vecs).collect()
        return (
            centroids(),
            sorted((r["sub"], r["code"], list(r["cv"])) for r in book),
        )

    def hashes():
        return {
            name: canon_hash(QUERIES[name](spark, SF_DIR))
            for name in ("ann_ivf_trained_topk", "semantic_clusters")
        }

    merged = models()
    baked = hashes()
    # similarity_pq binds the bound by name at import: patch both modules.
    monkeypatch.setattr(similarity, "TRAIN_MERGE_MAX_ROWS", 0)
    monkeypatch.setattr(similarity_pq, "TRAIN_MERGE_MAX_ROWS", 0)
    assert models() == merged
    for name in ("ann_ivf_trained_topk", "ann_pq_topk"):
        assert_matches_oracle(spark, duck, QUERIES[name], ORACLES[name], SF_DIR)

    monkeypatch.setattr(similarity, "BAKE_MAX_CELLS", 0)
    assert centroids() == merged[0]
    assert hashes() == baked


def test_pq_empty_corpus_returns_empty_verdict(spark, tmp_path):
    """An empty embeddings table must yield the empty-schema frame, not an
    IndexError from the literal bake (the embedding_near_dup empty-corpus
    contract, extended to PQ)."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.similarity_pq import q_ann_pq_topk
    empty = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .where(F.lit(False))
    )
    path = str(tmp_path / "emb")
    empty.write.parquet(f"{path}/embeddings.parquet")
    out = q_ann_pq_topk(spark, path)
    assert out.columns == ["n_queries", "recall_ok"]
    assert out.count() == 0


def test_cdc_incremental_apply_matches_full(spark):
    """Splitting the changelog at the median timestamp and applying the two
    halves in order must equal one full apply — the MERGE-loop contract of
    apply_changelog. Tombstoned keys must be absent from the snapshot."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.functions.scalar import epoch_us
    from log_analysis_system_spark.queries.dedup import (
        CDC_DELETE_TYPE,
        apply_changelog,
    )
    from log_analysis_system_spark.sources.catalog import read_events

    ev = read_events(spark, SF_DIR).select(
        "user_id", "event_id", "event_type", "ts",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    cut = ev.agg(
        F.percentile_approx(epoch_us("ts"), 0.5)
    ).collect()[0][0]
    first = ev.where(epoch_us("ts") < cut)
    second = ev.where(epoch_us("ts") >= cut)
    assert first.count() > 0 and second.count() > 0

    full = {tuple(r) for r in apply_changelog(None, ev).collect()}
    snap1 = apply_changelog(None, first)
    inc = {tuple(r) for r in apply_changelog(snap1, second).collect()}
    assert inc == full and full

    deleted_last = {
        r["user_id"]
        for r in apply_changelog(None, ev)
        .where(F.col("event_type") == CDC_DELETE_TYPE)
        .collect()
    }
    assert not deleted_last

    # Watermark guard: replaying the FIRST half on top of the full apply is
    # an out-of-order batch — with the watermark it must raise instead of
    # silently resurrecting tombstoned keys.
    import datetime
    import pytest

    wm = second.agg(F.max("ts")).collect()[0][0]
    assert isinstance(wm, datetime.datetime)
    with pytest.raises(ValueError, match="resurrect"):
        apply_changelog(snap1, first, watermark=wm)
    # In-order batch passes the guard unchanged.
    wm_ok = first.agg(F.max("ts")).collect()[0][0]
    guarded = {
        tuple(r)
        for r in apply_changelog(snap1, second, watermark=wm_ok).collect()
    }
    assert guarded == full
    # Boundary: an op AT the watermark timestamp must also raise — a
    # time-ordered split keeps all equal-ts ops in one batch, and an
    # equal-ts upsert with a lower event_id than a compacted delete
    # tombstone at the same ts would resurrect the key.
    boundary = second.where(F.col("ts") == F.lit(wm))
    assert boundary.count() > 0
    with pytest.raises(ValueError, match="resurrect"):
        apply_changelog(snap1, boundary, watermark=wm)


def test_pq_index_build_and_serve(spark, tmp_path):
    """Build/serve split: searching the PERSISTED PQ index must return the
    same top-k as the inline search (same codebooks, codes, candidates,
    re-rank), with no training or corpus encode at serve time."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.similarity import (
        N_QUERIES,
        _quantized,
    )
    from log_analysis_system_spark.queries.similarity_pq import (
        _pq_adc_topk,
        _pq_codes_udf,
        build_pq_index,
        search_pq_index,
        train_pq_codebooks,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, SF_DIR, idx)

    vecs = _quantized(spark, SF_DIR)
    queries = vecs.where(F.col("vec_id") < N_QUERIES).select("vec_id", "e")
    served = {
        tuple(r) for r in search_pq_index(spark, idx, queries).collect()
    }

    cb_rows = train_pq_codebooks(vecs).collect()
    q_rows = queries.collect()
    codes_df = vecs.withColumn("codes", _pq_codes_udf(cb_rows)("e"))
    inline = {
        tuple(r)
        for r in _pq_adc_topk(codes_df, vecs, cb_rows, q_rows).collect()
    }
    assert served == inline and served

    # Out-of-index query: a vec_id absent from the persisted store must
    # still be answered (re-rank uses the caller's vectors, not a store
    # lookup). Same embedding as vec_id 0, foreign id -> same neighbors.
    foreign = queries.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10**9).alias("vec_id"), "e"
    )
    got = search_pq_index(spark, idx, foreign).collect()
    assert got and all(r["query_id"] == 10**9 for r in got)
    # The identical stored vector is no longer self-excluded: it must win
    # rank 1 with cosine 1.0.
    top = min(got, key=lambda r: r["rnk"])
    assert top["neighbor_id"] == 0 and top["cosine"] == 1.0


def test_shared_substring_spans_exact_semantics(spark):
    """Hand-crafted corpus pins the ExactSubstr contract: a shared span of
    exactly S >= k tokens is reported once with span_tokens == S and the
    correct 1-based starts; spans below min_tokens (even if >= k) are NOT
    reported; two disjoint shared spans between one pair yield two rows;
    anchors hotter than df_cap are dropped."""
    from log_analysis_system_spark.queries.dedup_spans import (
        shared_substring_spans,
    )

    span15 = " ".join(f"s{i}" for i in range(15))     # the 15-token span
    span9 = " ".join(f"t{i}" for i in range(9))       # >= k, < min_tokens
    span12 = " ".join(f"u{i}" for i in range(12))     # second shared span
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {span15} b1 b2 {span12}"),
            (2, f"c1 {span15} d1 d2 d3 d4 {span12} e1"),
            (3, f"f1 f2 {span9} g1 g2 g3 g4 g5"),
            (4, f"h1 {span9} i1 i2 i3 i4 i5 i6"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in shared_substring_spans(
            docs, k=8, min_tokens=12, df_cap=32
        ).collect()
    }
    # doc1 tokens: a1 a2 a3 | span15 at 4..18 | b1 b2 at 19-20 | span12 at 21..32
    # doc2 tokens: c1 | span15 at 2..16 | d1..d4 17-20 | span12 at 21..32 | e1
    assert rows == {(1, 2, 4, 2, 15), (1, 2, 21, 21, 12)}

    # df_cap: the same 12-token span in 40 docs, cap 32 -> no anchors kept
    hot = spark.createDataFrame(
        [(i, f"x{i} {span12} y{i}") for i in range(40)],
        "doc_id long, text string",
    )
    assert (
        shared_substring_spans(hot, k=8, min_tokens=12, df_cap=32).count()
        == 0
    )
    # and with a generous cap the same corpus reports every pair
    assert (
        shared_substring_spans(hot, k=8, min_tokens=12, df_cap=64).count()
        == 40 * 39 // 2
    )


def test_shared_substring_spans_repeated_symbol_runs(spark):
    """Periodic/repeated text: anchors repeat WITHIN each doc, producing
    multiple diagonals — each maximal diagonal run must still report its
    exact length, and duplicate (pos_a, pos_b) combinations must not
    collapse or double-count."""
    from log_analysis_system_spark.queries.dedup_spans import (
        shared_substring_spans,
    )

    rep = " ".join(["w"] * 20)  # 20 identical tokens
    docs = spark.createDataFrame(
        [(1, rep), (2, rep)], "doc_id long, text string"
    )
    out = shared_substring_spans(docs, k=8, min_tokens=12, df_cap=32)
    rows = {
        (r["start_a"], r["start_b"], r["span_tokens"])
        for r in out.collect()
    }
    # every diagonal d in [-12, 12] is one maximal run; |d| <= 8 spans the
    # 20-|d| >= 12 threshold
    assert rows == {
        (1, 1 + d, 20 - d) for d in range(0, 9)
    } | {(1 + d, 1, 20 - d) for d in range(1, 9)}


def test_pq_index_append_serves_deltas(spark, tmp_path):
    """Incremental PQ maintenance: a delta encoded with the STORED
    codebooks (no retraining) must be served next to the base corpus by
    the same partition-discovering read, replay-idempotently."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.similarity import (
        _quantized,
    )
    from log_analysis_system_spark.queries.similarity_pq import (
        append_pq_index,
        build_pq_index,
        search_pq_index,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, SF_DIR, idx)
    base_n = spark.read.parquet(f"{idx}/codes").count()

    vecs = _quantized(spark, SF_DIR)
    delta = vecs.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10**6).alias("vec_id"), "e", "nrm"
    )
    append_pq_index(spark, idx, delta, batch_id=0)
    append_pq_index(spark, idx, delta, batch_id=0)  # replay: no dupes
    store = spark.read.parquet(f"{idx}/codes")
    assert store.count() == base_n + 5
    assert store.where(F.col("vec_id") >= 10**6).count() == 5

    # a query identical to an appended twin must retrieve it at rank 1
    # with cosine 1.0 (the original id is self-excluded, the twin is not)
    queries = vecs.where(F.col("vec_id") == 3).select("vec_id", "e")
    got = search_pq_index(spark, idx, queries).collect()
    assert got
    top = min(got, key=lambda r: r["rnk"])
    assert top["neighbor_id"] == 10**6 + 3 and top["cosine"] == 1.0


def test_text_index_build_and_serve(spark, tmp_path):
    """Persisted BM25 index: serving the fixed query from the index alone
    (pruned postings partitions + stored doclen/stats) must equal the
    inline bm25_rank ranking bit-for-bit, and the pruned read must touch
    only the query terms' bucket partitions."""
    from log_analysis_system_spark.queries import QUERIES, load_all
    from log_analysis_system_spark.queries.text_analysis import (
        BM25_TERMS,
        build_text_index,
        search_text_index,
    )

    load_all()
    idx = str(tmp_path / "ti")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    build_text_index(docs, idx)

    served = [
        tuple(r) for r in search_text_index(spark, idx, BM25_TERMS).collect()
    ]
    inline = [
        tuple(r) for r in QUERIES["bm25_rank"](spark, SF_DIR).collect()
    ]
    assert served == inline and served

    # partition pruning: the scan must read only the buckets of the query
    # terms, not all 16
    import hashlib

    import pyspark.sql.functions as F

    want = sorted({hashlib.md5(t.encode()).hexdigest()[0] for t in BM25_TERMS})
    pruned = (
        spark.read.parquet(f"{idx}/postings")
        .where(F.col("bucket").isin(want) & F.col("word").isin(list(BM25_TERMS)))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan


def test_pq_append_staleness_recall(spark, tmp_path):
    """The documented append-without-retrain trade, quantified: after
    appending 50 stale-codebook-encoded twins (10% of the corpus, exact
    duplicates of existing vectors — the worst case for pool crowding),
    recall@10 vs exact-cosine truth over base+delta measures ~0.48 here,
    down from the fresh-index ~0.76 (similarity.py docstring) — the
    rebuild-when-drift-accumulates threshold in numbers. Gate at 0.4 so a
    real encoding bug (recall collapse) still fails loudly."""
    import numpy as np
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.similarity import (
        _quantized,
    )
    from log_analysis_system_spark.queries.similarity_pq import (
        append_pq_index,
        build_pq_index,
        search_pq_index,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, SF_DIR, idx)
    vecs = _quantized(spark, SF_DIR)
    delta = vecs.where(
        (F.col("vec_id") >= 250) & (F.col("vec_id") < 300)
    ).select((F.col("vec_id") + 10**6).alias("vec_id"), "e", "nrm")
    append_pq_index(spark, idx, delta, batch_id=0)

    queries = vecs.where(F.col("vec_id") < 20).select("vec_id", "e")
    served = search_pq_index(spark, idx, queries).collect()
    got = {}
    for r in served:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    # exact-cosine truth over the full store, computed in numpy
    store_rows = spark.read.parquet(f"{idx}/codes").select(
        "vec_id", "e"
    ).collect()
    ids = np.array([r["vec_id"] for r in store_rows])
    M = np.array([r["e"] for r in store_rows], dtype=np.float64)
    nrm = np.linalg.norm(M, axis=1)
    hits = tot = 0
    for q in queries.collect():
        qv = np.array(q["e"], dtype=np.float64)
        # the engine's re-rank metric: round(cos, 6), ties by asc id
        cos = np.round((M @ qv) / (nrm * np.linalg.norm(qv)), 6)
        ranked = sorted(
            (
                (-c, int(i))
                for c, i in zip(cos, ids)
                if int(i) != q["vec_id"]
            ),
        )
        truth = [i for _, i in ranked[:10]]
        hits += len(set(truth) & got.get(q["vec_id"], set()))
        tot += len(truth)
    assert tot and hits / tot >= 0.4
    # sanity: the appended twins of 250..299 do not affect these base
    # queries' truth much, but at least one appended vector must be
    # retrievable when queried directly
    dq = vecs.where(F.col("vec_id") == 255).select(
        (F.col("vec_id") + 10**6).alias("vec_id"), "e"
    )
    dres = search_pq_index(spark, idx, dq).collect()
    assert dres and any(r["neighbor_id"] == 255 for r in dres)


def test_wav_codec_roundtrip_and_features(spark):
    """PCM-16 WAV: encode→decode bit-exact for full-range signed samples
    (incl. negatives and zero crossings the ASCII-payload oracle can't
    reach), stereo handling, word-aligned odd-size chunk walk, and format
    rejection."""
    import numpy as np
    import pytest

    from log_analysis_system_spark.operators.multimodal import (
        audio_features,
        decode_audio,
        encode_wav,
    )

    rng = np.random.default_rng(5)
    s = rng.integers(-32768, 32768, 257, dtype=np.int16)
    dec, rate = decode_audio(encode_wav(s, 16000))
    assert rate == 16000 and dec.shape == (257, 1) and (dec[:, 0] == s).all()

    with pytest.raises(ValueError, match="unsupported audio format"):
        decode_audio(b"OggS" + b"\x00" * 40)
    with pytest.raises(ValueError, match="missing fmt/data"):
        decode_audio(b"RIFF\x04\x00\x00\x00WAVE")

    # features on a known signal: [100, -200, 300] -> sum_abs 600, 2 ZCs
    media = spark.createDataFrame(
        [(1, bytearray(encode_wav(np.array([100, -200, 300], dtype=np.int16))))],
        "media_id long, payload binary",
    )
    r = audio_features(media).collect()[0]
    assert (r["n_samples"], r["sum_abs"], r["zero_cross"]) == (3, 600, 2)
    assert r["sample_rate"] == 8000


def test_y4m_codec_roundtrip_and_rejection(spark):
    """Y4M video: encode→decode bit-exact (multi-frame, non-square),
    default-colorspace and truncation rejection, empty stream handling."""
    import numpy as np
    import pytest

    from log_analysis_system_spark.operators.multimodal import (
        decode_video,
        encode_y4m,
        video_frame_features,
    )

    rng = np.random.default_rng(13)
    a = rng.integers(0, 256, (3, 4, 6, 3), dtype=np.uint8)
    dec, fps = decode_video(encode_y4m(a, 30))
    assert fps == 30 and (dec == a).all()

    with pytest.raises(ValueError, match="unsupported video format"):
        decode_video(b"\x00\x00\x00 ftypmp42....")
    with pytest.raises(ValueError, match="only C444"):
        decode_video(b"YUV4MPEG2 W2 H2 F25:1\nFRAME\n" + b"\x00" * 6)
    with pytest.raises(ValueError, match="truncated"):
        decode_video(b"YUV4MPEG2 W2 H2 F25:1 C444\nFRAME\n" + b"\x00" * 5)

    # per-frame features on known planes
    f0 = np.zeros((2, 2, 3), dtype=np.uint8)
    f0[:, :, 0] = 10   # Y plane sums to 40
    f0[:, :, 1] = 2    # U -> 8
    f0[:, :, 2] = 255  # V -> 1020
    media = spark.createDataFrame(
        [(7, bytearray(encode_y4m(np.stack([f0]))))],
        "media_id long, payload binary",
    )
    r = video_frame_features(media).collect()[0]
    assert (r["frame_idx"], r["width"], r["height"]) == (0, 2, 2)
    assert (r["sum_y"], r["sum_u"], r["sum_v"]) == (40, 8, 1020)


def test_ngram_diversity_short_docs_no_crash(spark, tmp_path):
    """Docs shorter than k tokens must produce zero k-gram rows, not a
    slice() crash: Spark's sequence(1, 0) is the DESCENDING [1, 0], so an
    unguarded transform feeds i=0 into slice (DuckDB's generate_series is
    empty there — oracle fine, Spark fatal). Regression for the guard."""
    import duckdb
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries import ORACLES, load_all
    from log_analysis_system_spark.queries.text_analysis import (
        q_ngram_diversity,
    )

    load_all()
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, "ok", "en", "s0", 2), (1, "a b", "en", "s0", 3),
         (2, "x y z w", "en", "s1", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    got = {
        (r["source"], r["n"]): (r["occurrences"], r["distinct_grams"])
        for r in q_ngram_diversity(spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    exp = {
        (s, n): (o, dg)
        for s, n, o, dg, _ in con.execute(ORACLES["ngram_diversity"]).fetchall()
    }
    assert got == exp
    # 's0' has the 1- and 2-token docs: 3 unigrams, one bigram, NO trigram
    assert got[("s0", 1)] == (3, 3)
    assert got[("s0", 2)] == (1, 1)
    assert ("s0", 3) not in got


def test_decontaminate_spans_planted_overlap(spark, tmp_path):
    """Planted-answer pin for span-level decontamination (the sibling of
    decontaminate_ngram's planted test): known passages copied from an
    eval doc into training docs must yield EXACT per-doc interval
    accounting — including a doc with two disjoint plants (2 spans), an
    overlap union, a heavily-replicated passage (present in MANY training
    docs — must still be reported: no eval-side df cap), clean docs with
    zero rows, and train-train duplication that must NOT count."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.dedup_spans import (
        SPAN_MIN_TOKENS,
        q_decontaminate_spans,
    )

    ev = [f"e{i}" for i in range(40)]          # eval doc tokens
    passage = ev[5:5 + SPAN_MIN_TOKENS]        # 12-token leaked passage
    passage2 = ev[25:25 + SPAN_MIN_TOKENS]     # second, disjoint passage
    fill = lambda tag, n: [f"{tag}{i}" for i in range(n)]

    rows = [(100, " ".join(ev), "en", "src0", 0)]   # the eval doc
    # t1: one plant in the middle -> one span of 12 at positions 11..22
    rows.append((1, " ".join(fill("a", 10) + passage + fill("b", 10)),
                 "en", "src5", 0))
    # t2: two disjoint plants -> 2 spans, 24 tokens
    rows.append((2, " ".join(fill("c", 5) + passage + fill("d", 5)
                             + passage2 + fill("x", 3)), "en", "src6", 0))
    # t3..t40: the SAME passage replicated in many training docs (anchor
    # df >> self-dedup's SPAN_DF_CAP=32) -> every copy must be reported
    for i in range(3, 41):
        rows.append((i, " ".join(fill(f"u{i}_", 6) + passage
                                 + fill(f"v{i}_", 4)), "en", "src7", 0))
    # t50: clean training doc -> zero row
    rows.append((50, " ".join(fill("z", 30)), "en", "src8", 0))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (r["n_spans"], r["contaminated_tokens"])
        for r in q_decontaminate_spans(spark, d).collect()
    }
    assert 100 not in got                      # eval doc never reported
    assert got[1] == (1, SPAN_MIN_TOKENS)
    assert got[2] == (2, 2 * SPAN_MIN_TOKENS)
    for i in range(3, 41):                     # hot passage: all reported
        assert got[i] == (1, SPAN_MIN_TOKENS), i
    assert got[50] == (0, 0)                   # clean doc present w/ zeros
    # train-train sharing (u/v fillers unique per doc; the only cross-doc
    # text among train docs is the eval passage) already covered: counts
    # above would exceed 12 if train-train spans were counted


def test_cross_substring_spans_eval_fraction_guard(spark):
    """The uncapped-eval miner's volume contract, enforced: an "eval"
    label covering more than DECON_MAX_EVAL_FRAC of the corpus must raise
    (loud misuse), the test-scale 10% labeling must pass, and
    max_eval_frac=None must run the oversized split anyway (the
    deliberate corpus-vs-corpus escape hatch)."""
    import pytest
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.dedup_spans import (
        cross_substring_spans,
    )

    toks = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(i, toks) for i in range(10)], "doc_id long, text string"
    )
    heavy = F.col("doc_id") < 5         # 50% "eval" — misuse
    with pytest.raises(ValueError, match="max_eval_frac"):
        cross_substring_spans(docs, heavy)
    # escape hatch: same split runs (and finds the planted overlap)
    spans = cross_substring_spans(docs, heavy, max_eval_frac=None)
    assert spans.count() == 25           # 5 train x 5 eval full-copy pairs
    # the shipped 10% labeling stays under the default 20% gate
    ok = F.col("doc_id") < 1
    assert cross_substring_spans(docs, ok).count() == 9


def test_decontaminate_scrub_planted_emission(spark, tmp_path):
    """Planted-answer pin for the scrub EMISSION: the scrubbed text must
    be exactly the original with the contaminated interval(s) excised —
    clean docs byte-identical, a mid-doc plant cut with both flanks
    stitched on a single space, two disjoint plants both cut, a
    fully-contaminated doc emitted EMPTY (not dropped), and eval docs
    never emitted."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.dedup_spans import (
        SPAN_MIN_TOKENS,
        q_decontaminate_scrub,
    )

    ev = [f"e{i}" for i in range(40)]
    p1 = ev[5:5 + SPAN_MIN_TOKENS]
    p2 = ev[25:25 + SPAN_MIN_TOKENS]
    fill = lambda tag, n: [f"{tag}{i}" for i in range(n)]

    a, b = fill("a", 10), fill("b", 10)
    c, d_, x = fill("c", 5), fill("d", 5), fill("x", 3)
    z = fill("z", 30)
    rows = [
        (100, " ".join(ev), "en", "src0", 0),            # eval doc
        (1, " ".join(a + p1 + b), "en", "src5", 0),      # one plant
        (2, " ".join(c + p1 + d_ + p2 + x), "en", "src6", 0),  # two plants
        (3, " ".join(p1), "en", "src7", 0),              # fully contaminated
        (50, " ".join(z), "en", "src8", 0),              # clean
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["kept_tokens"], r["cut_tokens"],
            r["scrubbed_text"],
        )
        for r in q_decontaminate_scrub(spark, d).collect()
    }
    assert 100 not in got
    assert got[1] == (32, 20, 12, " ".join(a + b))
    assert got[2] == (37, 13, 24, " ".join(c + d_ + x))
    assert got[3] == (12, 0, 12, "")
    assert got[50] == (30, 30, 0, " ".join(z))


def test_ann_ivfpq_recall_verdict(spark):
    """IVF-PQ composition (coarse quantizer + residual PQ + exact
    re-rank): the verdict row must cover every query and clear the
    recall gate. Measured recall at this fixture is 34/50 = 0.68 —
    exactly the trained-IVF ceiling, i.e. the residual ADC stage loses
    nothing inside the probed cells; a broken residual encoding (e.g.
    encoding raw vectors against residual codebooks) drops well below
    the 0.5 gate and fails here."""
    from log_analysis_system_spark.queries import QUERIES, load_all

    load_all()
    row = QUERIES["ann_ivfpq_topk"](spark, SF_DIR).collect()
    assert len(row) == 1
    assert row[0]["n_queries"] == 10 and bool(row[0]["recall_ok"])


def test_ivf_nprobe_scaling_holds_recall(spark):
    """The scaled_n_probe rule (probes ~25% of cells, floor N_PROBE) must
    keep trained-IVF recall@k above the gate at the LARGEST local SF —
    the exact point where a fixed nprobe=4 collapsed to 0.34 (4/63 cells
    probed). Pins cells=63 → nprobe=16 → recall 30/50 = 0.60 at sf0.1;
    integer-deterministic, so exact."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries import similarity as sim

    sf = "/root/testdata/sf0.1"
    vecs = sim._quantized(spark, sf)
    cents = sim.train_ivf_centroids(vecs)
    n_cells = cents.count()
    assert n_cells == 63
    assert sim.scaled_n_probe(n_cells) == 16
    ivf = sim._ivf_search(vecs, cents).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    truth = sim.q_ann_brute_topk(spark, sf).select("query_id", "neighbor_id")
    tot, hits = (
        truth.join(ivf, ["query_id", "neighbor_id"], "left")
        .agg(F.count(F.lit(1)), F.sum(F.coalesce("hit", F.lit(0))))
        .first()
    )
    assert (tot, hits) == (50, 30), (tot, hits)
    assert hits / tot >= sim.RECALL_MIN
    spark.catalog.clearCache()


def test_pq_index_refresh_recovers_recall(spark, tmp_path):
    """Lifecycle close-out for the append-staleness trade: a drifted
    delta encoded with stale codebooks drops audit recall to 14/50; the
    refresh must (a) trigger, (b) retrain with stratified seeds so the
    drifted mode gets codewords (Lloyd's cannot split a far cluster the
    init gave one codeword — the exact failure an all-base init has),
    (c) compact delta partitions back into batch=base, and (d) re-audit
    above the gate. Exact integer pins, deterministic."""
    import os

    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.similarity import (
        N_QUERIES,
        _norm,
        _quantized,
    )
    from log_analysis_system_spark.queries.similarity_pq import (
        PQ_DRIFT_EXPR,
        append_pq_index,
        build_pq_index,
        refresh_pq_index,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, SF_DIR, idx)
    vecs = _quantized(spark, SF_DIR)
    delta = vecs.select(
        (F.col("vec_id") + 10**6).alias("vec_id"),
        F.expr(PQ_DRIFT_EXPR).alias("e"),
    ).withColumn("nrm", _norm("e"))
    append_pq_index(spark, idx, delta, batch_id=0)
    n_store = spark.read.parquet(f"{idx}/codes").count()
    queries = vecs.where(F.col("vec_id") < N_QUERIES).select(
        (F.col("vec_id") + 2 * 10**6).alias("vec_id"),
        F.expr(PQ_DRIFT_EXPR).alias("e"),
    )

    r = refresh_pq_index(spark, idx, queries)
    assert r["refreshed"] is True
    assert (r["hits_before"], r["total_before"]) == (14, 50)
    assert (r["hits_after"], r["total_after"]) == (32, 50)
    # compaction: delta partitions folded into a single base batch,
    # no rows lost, staging dir gone
    assert sorted(
        d for d in os.listdir(f"{idx}/codes") if d.startswith("batch=")
    ) == ["batch=base"]
    assert not os.path.exists(f"{idx}/codes_staged")
    assert spark.read.parquet(f"{idx}/codes").count() == n_store
    # the drifted mode regained code diversity (was 1 distinct
    # code-vector under the stale books)
    assert (
        spark.read.parquet(f"{idx}/codes")
        .where(F.col("vec_id") >= 10**6)
        .select(F.col("codes").cast("string"))
        .distinct()
        .count()
        > 100
    )


def test_pq_index_refresh_noop_when_healthy(spark, tmp_path):
    """A healthy index (no drifted append) must NOT be rebuilt: audit
    passes, refreshed=False, store files untouched."""
    import os

    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries.similarity import (
        N_QUERIES,
        _quantized,
    )
    from log_analysis_system_spark.queries.similarity_pq import (
        build_pq_index,
        refresh_pq_index,
    )

    idx = str(tmp_path / "pq")
    build_pq_index(spark, SF_DIR, idx)
    files_before = sorted(os.listdir(f"{idx}/codes/batch=base"))
    queries = _quantized(spark, SF_DIR).where(
        F.col("vec_id") < N_QUERIES
    ).select("vec_id", "e")
    r = refresh_pq_index(spark, idx, queries)
    assert r["refreshed"] is False
    assert r["recall_after"] == r["recall_before"] >= 0.5
    assert sorted(os.listdir(f"{idx}/codes/batch=base")) == files_before


def test_perplexity_band_filter_planted(spark, tmp_path):
    """Two-sided LM band: in a 20-doc corpus the memorized-boilerplate
    doc (one bigram repeated, the LM's most predictable transitions)
    must land at rank 0 and be DROPPED, the all-unique-gibberish doc
    must land at the top rank and be DROPPED, and exactly 18/20 middle
    docs are kept (band = ranks 1..18 at N=20 with the 5%/95% ppm
    bounds)."""
    from log_analysis_system_spark.queries.text_analysis import (
        q_perplexity_band_filter,
    )

    rows = [(0, " ".join(["la la"] * 20), "en", "s0", 0)]  # boilerplate
    for i in range(1, 19):  # middle: shared vocab, varied transitions
        rows.append(
            (i, f"common{i % 3} middle tok{i} common{(i + 1) % 3} end",
             "en", "s1", 0)
        )
    rows.append((19, " ".join(f"zz{j}q" for j in range(12)), "en", "s2", 0))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in q_perplexity_band_filter(spark, d).collect()}
    assert len(got) == 20
    assert got[0]["rnk"] == 0 and not got[0]["keep"]
    assert got[19]["rnk"] == 19 and not got[19]["keep"]
    assert sum(1 for r in got.values() if r["keep"]) == 18


def test_dsir_importance_resample_planted(spark, tmp_path):
    """DSIR pin: raw docs written in the TARGET slice's vocabulary must
    out-rank raw docs with disjoint vocabulary, and exactly the top 25%
    of the 8-doc pool (rnk < 2) is selected. Target docs are never in
    the output."""
    from log_analysis_system_spark.queries.training_prep import (
        q_dsir_importance_resample,
    )

    tvoc = " ".join(f"t{i}" for i in range(10))
    rows = [
        (100, tvoc, "en", "src2", 0),            # target slice
        (101, tvoc, "en", "src3", 0),
        (1, tvoc, "en", "src5", 0),              # target-like raw
        (2, " ".join(f"t{i}" for i in range(5)), "en", "src6", 0),
    ]
    for i in range(3, 9):                        # 6 disjoint-vocab raw docs
        rows.append((i, " ".join(f"j{i}_{k}" for k in range(10)),
                     "en", "src7", 0))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in q_dsir_importance_resample(spark, d).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6, 7, 8}   # raw pool only
    assert got[1]["rnk"] == 0 and got[1]["selected"]
    assert got[2]["rnk"] == 1 and got[2]["selected"]
    assert sum(1 for r in got.values() if r["selected"]) == 2
    assert all(
        got[i]["weight_micro"] < got[2]["weight_micro"] for i in range(3, 9)
    )


def test_ann_sq8_recall_verdict(spark):
    """SQ8 flat scalar quantization: verdict row covers every query and
    clears the 0.7 gate (measured recall is 50/50 exact at every SF —
    8-bit/dim + exact re-rank recovers the true ranking; the gate
    guards the affine quantization map)."""
    from log_analysis_system_spark.queries import QUERIES, load_all

    load_all()
    row = QUERIES["ann_sq8_topk"](spark, SF_DIR).collect()
    assert len(row) == 1
    assert row[0]["n_queries"] == 10 and bool(row[0]["recall_ok"])


def test_excess_loss_mixture_weights_planted(spark, tmp_path):
    """DoReMi-style reweighting pin: the source whose transitions the
    corpus LM fits worst (unique gibberish → every bigram is a one-off)
    must show positive excess and weight_ppm ABOVE its token share; the
    boilerplate source (one repeated bigram → best-fit) gets zero excess
    and weight_ppm at-or-below share; ppm columns each sum to ~1e6."""
    from log_analysis_system_spark.queries.training_prep import (
        q_excess_loss_mixture_weights,
    )

    rows = []
    for i in range(5):  # boilerplate source: the LM memorizes "la la"
        rows.append((i, " ".join(["la la"] * 10), "en", "easy", 0))
    for i in range(5, 10):  # gibberish source: all transitions unique
        rows.append((i, " ".join(f"g{i}_{k}" for k in range(20)),
                     "en", "hard", 0))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["source"]: r for r in
           q_excess_loss_mixture_weights(spark, d).collect()}
    assert set(got) == {"easy", "hard"}
    assert got["hard"]["excess_micro"] > 0
    assert got["hard"]["weight_ppm"] > got["hard"]["share_ppm"]
    assert got["easy"]["excess_micro"] == 0
    assert got["easy"]["weight_ppm"] <= got["easy"]["share_ppm"]
    for col in ("share_ppm", "weight_ppm"):
        assert abs(sum(r[col] for r in got.values()) - 1_000_000) <= 2


def test_gopher_quality_rules_planted(spark, tmp_path):
    """Each Gopher rule must fire on exactly its planted violator: a
    9-word doc (word count), a doc of 1-char words (mean length), a
    hashtag-heavy doc (symbol ratio), a digits-only doc (alpha words),
    a no-function-words doc (stopwords) — and the one clean doc passes
    all five."""
    from log_analysis_system_spark.queries.text_analysis import (
        q_gopher_quality_rules,
    )

    good = ("the cat is on a mat and it sat there for a while watching "
            + " ".join(f"bird{i}" for i in range(40)))
    rows = [
        (1, good, "en", "s", 0),                                # clean
        (2, "the cat is on a mat for it now", "en", "s", 0),    # 9 words
        (3, "the a " + " ".join(["x"] * 60), "en", "s", 0),     # mean len < 3
        (4, "the a " + " ".join(f"#tag{i}" for i in range(58)), "en", "s", 0),
        (5, "the a " + " ".join(str(i) for i in range(58)), "en", "s", 0),
        (6, " ".join(f"word{i} stuff{i}" for i in range(30)), "en", "s", 0),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in q_gopher_quality_rules(spark, d).collect()}
    assert got[1]["pass"] and all(
        got[1][c] for c in ("rule_word_count", "rule_mean_word_len",
                            "rule_symbol_ratio", "rule_alpha_words",
                            "rule_stopwords")
    )
    assert not got[2]["rule_word_count"] and not got[2]["pass"]
    assert not got[3]["rule_mean_word_len"] and not got[3]["pass"]
    assert not got[4]["rule_symbol_ratio"] and not got[4]["pass"]
    assert not got[5]["rule_alpha_words"] and not got[5]["pass"]
    assert not got[6]["rule_stopwords"] and not got[6]["pass"]
    # the violators fail ONLY their own rule (word-count doc aside, all
    # are sized to pass the other gates)
    assert got[3]["rule_word_count"] and got[3]["rule_symbol_ratio"]
    assert got[4]["rule_word_count"] and got[4]["rule_mean_word_len"]
    assert got[5]["rule_symbol_ratio"] and got[5]["rule_stopwords"]
    assert got[6]["rule_word_count"] and got[6]["rule_alpha_words"]


def test_leak_free_split_components_move_together(spark):
    """The constructive guarantee: every near-dup component lands in
    EXACTLY one split (zero cross-split pairs by construction), splits
    are exhaustive over the corpus, and singleton docs follow the same
    md5-bucket convention as train_val_test_split (drop-in
    compatibility)."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries import QUERIES, load_all

    load_all()
    rows = QUERIES["leak_free_split"](spark, SF_DIR).collect()
    docs_n = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    )
    assert len(rows) == docs_n
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values())
    # at least one real multi-doc component exists at this fixture (else
    # the guarantee is vacuous here)
    comp_sizes = {}
    for r in rows:
        comp_sizes[r["component_id"]] = comp_sizes.get(r["component_id"], 0) + 1
    assert max(comp_sizes.values()) > 1
    # singleton convention matches the doc-key split's bucketing exactly
    sing = next(r for r in rows if comp_sizes[r["component_id"]] == 1)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.lit(str(sing["doc_id"])).cast("binary")), 1, 15
            ), 16, 10,
        ).cast("long") % 100
    )
    from log_analysis_system_spark.queries.sampling_extras import (
        TEST_PCT,
        VAL_PCT,
    )

    b = spark.range(1).select(bucket.alias("b")).collect()[0]["b"]
    want = (
        "val" if b < VAL_PCT
        else ("test" if b < VAL_PCT + TEST_PCT else "train")
    )
    assert sing["split"] == want


def test_contamination_by_source_rollup(spark, tmp_path):
    """Source rollup of the decon accounting: the source hosting planted
    leaks reports exactly its doc/token tallies; clean sources report
    zeros (present, not dropped); eval sources never appear."""
    from log_analysis_system_spark.queries.dedup_spans import (
        SPAN_MIN_TOKENS,
        q_contamination_by_source,
    )

    ev = [f"e{i}" for i in range(40)]
    passage = ev[5:5 + SPAN_MIN_TOKENS]
    fill = lambda tag, n: [f"{tag}{i}" for i in range(n)]
    rows = [(100, " ".join(ev), "en", "src0", 0)]
    # dirty source: 2 docs, one leaked (32 tokens, 12 contaminated)
    rows.append((1, " ".join(fill("a", 10) + passage + fill("b", 10)),
                 "en", "dirty", 0))
    rows.append((2, " ".join(fill("c", 20)), "en", "dirty", 0))
    # clean source: 5 docs (also keeps the eval slice under the
    # DECON_MAX_EVAL_FRAC guard)
    for i in range(3, 8):
        rows.append((i, " ".join(fill(f"z{i}_", 25)), "en", "clean", 0))
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["source"]: r for r in
           q_contamination_by_source(spark, d).collect()}
    assert set(got) == {"dirty", "clean"}
    dd = got["dirty"]
    assert (dd["n_docs"], dd["contaminated_docs"]) == (2, 1)
    assert (dd["n_tokens"], dd["contaminated_tokens"]) == (52, 12)
    assert dd["contaminated_ppm"] == 12 * 1_000_000 // 52
    cc = got["clean"]
    assert cc["n_docs"] == 5
    assert (cc["contaminated_docs"], cc["contaminated_tokens"],
            cc["contaminated_ppm"]) == (0, 0, 0)


def test_epoch_shuffle_manifest_properties(spark):
    """The epoch shuffle is a PERMUTATION (positions are exactly
    0..N-1), deterministic across invocations, genuinely shuffled
    (not id order), and shard-balanced to within one element."""
    from collections import Counter

    from log_analysis_system_spark.queries import QUERIES, load_all

    load_all()  # before the direct module import: sampling_extras has
    # module-level oracles composed from dedup's registry entries
    from log_analysis_system_spark.queries.sampling_extras import (
        EPOCH_SHARDS,
    )
    a = QUERIES["epoch_shuffle_manifest"](spark, SF_DIR).collect()
    b = QUERIES["epoch_shuffle_manifest"](spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    n = len(a)
    assert sorted(r["pos"] for r in a) == list(range(n))
    by_pos = sorted(a, key=lambda r: r["pos"])
    assert [r["doc_id"] for r in by_pos] != sorted(r["doc_id"] for r in a)
    shards = Counter(r["shard"] for r in a)
    assert len(shards) == EPOCH_SHARDS
    assert max(shards.values()) - min(shards.values()) <= 1


def test_ivfpq_index_build_and_serve(spark, tmp_path):
    """Persisted IVF-PQ lifecycle: serving the fixed query set from the
    index alone (no retraining, no corpus rescan) must reproduce the
    inline composition's quality exactly — recall@5 vs brute truth is
    the same 34/50 the inline ann_ivfpq_topk measures, deterministic —
    and the candidate read must be partition-PRUNED to the probed
    cells."""
    import pyspark.sql.functions as F

    from log_analysis_system_spark.queries import QUERIES, load_all
    from log_analysis_system_spark.queries.similarity import (
        N_QUERIES,
        _quantized,
    )
    from log_analysis_system_spark.queries.similarity_pq import (
        build_ivfpq_index,
        search_ivfpq_index,
    )

    load_all()
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(spark, SF_DIR, idx)
    vecs = _quantized(spark, SF_DIR)
    queries = vecs.where(F.col("vec_id") < N_QUERIES).select("vec_id", "e")

    served = search_ivfpq_index(spark, idx, queries)
    rows = served.collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(got) == set(range(N_QUERIES))
    assert all(len(v) == 5 for v in got.values())

    truth = QUERIES["ann_brute_topk"](spark, SF_DIR).select(
        "query_id", "neighbor_id"
    ).collect()
    hits = sum(1 for t in truth if t["neighbor_id"] in got[t["query_id"]])
    assert (hits, len(truth)) == (34, 50)  # == inline ann_ivfpq_topk

    # determinism: a second serve is byte-identical
    again = search_ivfpq_index(spark, idx, queries).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))

    # the store read is partition-pruned to probed cells
    store = spark.read.parquet(f"{idx}/codes").where(
        F.col("cell_id").isin([0, 32])
    )
    plan = store._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan


def test_quality_discriminator_planted_separation(spark, tmp_path):
    """Trained-classifier pin vs a PURE-PYTHON reference: on a planted
    separable fixture (target docs long/stopword/alpha-rich vs short
    digit-only raw docs) the integer-GD discriminator must separate
    perfectly at the 0.5 boundary, and every score must equal the
    reference implementation's exact integers bit-for-bit."""
    from log_analysis_system_spark.queries.training_prep import (
        QD_LR_DIV,
        QD_ROUNDS,
        QD_THRESH_NANO,
        q_quality_discriminator,
    )

    # target docs: 150 words = 30x'the' + 105x5-char + 15x4-char alpha
    t_text = " ".join(["the"] * 30 + ["abcde"] * 105 + ["abcd"] * 15)
    # raw docs: 20 digit words, 50 chars
    r_text = " ".join(["12"] * 10 + ["123"] * 10)
    rows = [(i, t_text, "en", "src2" if i % 2 else "src3", 0)
            for i in range(10)]
    rows += [(i, r_text, "en", "src7", 0) for i in range(10, 50)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    # independent reference: exact integer batch GD on the known features
    feats = [(1, [1000, 750, 200, 1000, 450])] * 10 + [
        (0, [1000, 100, 0, 0, 250])
    ] * 40
    n = len(feats)
    w = [0] * 5
    for _ in range(QD_ROUNDS):
        g = [0] * 5
        for y, x in feats:
            z = sum(x[j] * w[j] for j in range(5))
            err = z - y * 10**9
            for j in range(5):
                g[j] += x[j] * err
        for j in range(5):
            mag = (abs(g[j]) // n) // QD_LR_DIV
            w[j] -= mag if g[j] >= 0 else -mag
    exp_t = sum(a * b for a, b in zip([1000, 750, 200, 1000, 450], w))
    exp_r = sum(a * b for a, b in zip([1000, 100, 0, 0, 250], w))
    assert exp_t >= QD_THRESH_NANO > exp_r  # the fixture separates

    got = {r["doc_id"]: r for r in
           q_quality_discriminator(spark, d).collect()}
    for i in range(10):
        assert got[i]["is_target"] and got[i]["predicted"]
        assert got[i]["score_nano"] == exp_t
    for i in range(10, 50):
        assert not got[i]["is_target"] and not got[i]["predicted"]
        assert got[i]["score_nano"] == exp_r


def test_matryoshka_recall_audit_invariants(spark):
    """Truncation audit invariants: the full-dimension row is a perfect
    1.0 by construction (it IS the truth), recall is monotonically
    non-decreasing in prefix length, and totals equal N_QUERIES*TOP_K."""
    from log_analysis_system_spark.queries import QUERIES, load_all
    from log_analysis_system_spark.queries.similarity import (
        N_DIMS,
        N_QUERIES,
        TOP_K,
    )
    from log_analysis_system_spark.queries.similarity_audits import (
        MRL_DIMS,
    )

    load_all()
    rows = {
        r["dims"]: r
        for r in QUERIES["matryoshka_recall_audit"](spark, SF_DIR).collect()
    }
    assert set(rows) == set(MRL_DIMS)
    full = rows[N_DIMS]
    assert (full["hits"], full["total"], full["recall_ppm"]) == (
        N_QUERIES * TOP_K, N_QUERIES * TOP_K, 1_000_000,
    )
    ordered = [rows[k]["recall_ppm"] for k in sorted(rows)]
    assert ordered == sorted(ordered)
    assert all(rows[k]["total"] == N_QUERIES * TOP_K for k in rows)


def test_mad_outlier_days_planted(spark, tmp_path):
    """MAD robustness pin: with 9 ordinary days and one 100x spike, the
    spike must be the only flagged day, and — the breakdown-point
    property mean/stddev lacks — the median/MAD must be computed from
    the ordinary days, unmoved by the spike."""
    import datetime

    from log_analysis_system_spark.queries.data_quality import (
        q_mad_outlier_days,
    )

    rows = []
    oid = 0
    for d in range(9):  # days 1..9: totals 100.00 + d (cents 10000+100d)
        rows.append(
            (oid, 1, "O", float(100 + d), datetime.date(2024, 1, 1 + d),
             "1-URGENT", "c", 0, "x")
        )
        oid += 1
    rows.append(
        (oid, 1, "O", 10000.0, datetime.date(2024, 1, 10),
         "1-URGENT", "c", 0, "x")
    )
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string, "
        "o_clerk string, o_shippriority long, o_comment string",
    ).write.parquet(f"{d}/orders.parquet")

    got = {r["day"]: r for r in q_mad_outlier_days(spark, d).collect()}
    assert len(got) == 10
    spike = got[datetime.date(2024, 1, 10)]
    assert spike["is_outlier"] and spike["revenue_c"] == 1_000_000
    # median = 5th smallest of 10 = day 5's 10400c; MAD from ordinary days
    assert spike["median_c"] == 10_400
    assert spike["mad_c"] == 200
    assert sum(1 for r in got.values() if r["is_outlier"]) == 1


def test_shard_integrity_manifest_detects_corruption(spark, tmp_path):
    """Integrity contract: digests are repartitioning-invariant (sender
    vs receiver layouts agree) and a single flipped character in one
    document changes exactly that shard's digest."""
    from log_analysis_system_spark.queries.training_prep import (
        q_shard_integrity_manifest,
    )

    rows = [(i, f"doc {i} content word{i}", "en", "s", 0) for i in range(40)]
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.repartition(1).write.parquet(f"{d1}/documents.parquet")
    df.repartition(7).write.parquet(f"{d2}/documents.parquet")
    m1 = {r["shard"]: tuple(r) for r in
          q_shard_integrity_manifest(spark, d1).collect()}
    m2 = {r["shard"]: tuple(r) for r in
          q_shard_integrity_manifest(spark, d2).collect()}
    assert m1 == m2 and len(m1) > 1

    bad = rows.copy()
    bad[7] = (7, bad[7][1].replace("word7", "w0rd7"), "en", "s", 0)
    d3 = str(tmp_path / "c")
    spark.createDataFrame(
        bad,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d3}/documents.parquet")
    m3 = {r["shard"]: tuple(r) for r in
          q_shard_integrity_manifest(spark, d3).collect()}
    diff = [s for s in m1 if m1[s] != m3[s]]
    assert len(diff) == 1
    assert m1[diff[0]][1] == m3[diff[0]][1]  # same count, different digest


def test_fuzzy_customer_pairs_blocking_semantics(spark, tmp_path):
    """ER pin: within a block, names at distance <= 1 pair (exact dist
    reported); distance-2 names do not; identical names in DIFFERENT
    blocks (other nation or segment) never pair — blocking is the
    candidate bound, not a soft preference."""
    from log_analysis_system_spark.queries.data_quality import (
        q_fuzzy_customer_pairs,
    )

    rows = [
        (1, "Customer#0001", "a", 1, "p", 1.0, "BUILDING", "x"),
        (2, "Customer#0002", "a", 1, "p", 1.0, "BUILDING", "x"),  # d1 -> pair
        (3, "Customer#0033", "a", 1, "p", 1.0, "BUILDING", "x"),  # d2 -> no
        (4, "Customer#0001", "a", 2, "p", 1.0, "BUILDING", "x"),  # other nation
        (5, "Customer#0001", "a", 1, "p", 1.0, "MACHINERY", "x"),  # other seg
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_address string, c_nationkey long, "
        "c_phone string, c_acctbal double, c_mktsegment string, "
        "c_comment string",
    ).write.parquet(f"{d}/customer.parquet")

    got = {(r["cust_a"], r["cust_b"]): r["dist"]
           for r in q_fuzzy_customer_pairs(spark, d).collect()}
    assert got == {(1, 2): 1}


def test_frequent_event_triples_support_semantics(spark, tmp_path):
    """Sequence-mining pin: a path shared by 3 users ranks above one a
    single bot loops 50 times (distinct-user support, not occurrence
    count, is the first key); sub-support patterns are excluded; ranks
    are contiguous from 1."""
    import datetime

    from log_analysis_system_spark.queries.behavior import (
        q_frequent_event_triples,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def add(user, seq, repeat=1):
        nonlocal eid
        for r in range(repeat):
            for i, et in enumerate(seq):
                rows.append(
                    (eid, user,
                     base + datetime.timedelta(seconds=eid),
                     et, "s1", "p1", 1.0)
                )
                eid += 1

    for u in (1, 2, 3):
        add(u, ["view", "cart", "pay"])
    add(9, ["spin", "spin", "spin"], repeat=50)   # bot loop: 1 user
    add(4, ["x", "y", "z"])                       # support 1 -> excluded
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "session_id string, page_id string, value double",
    ).write.parquet(f"{d}/events.parquet")

    got = q_frequent_event_triples(spark, d).collect()
    ranked = sorted(got, key=lambda r: r["rnk"])
    assert (ranked[0]["a"], ranked[0]["b"], ranked[0]["c"]) == (
        "view", "cart", "pay",
    )
    assert ranked[0]["n_users"] == 3
    assert all((r["a"], r["b"], r["c"]) != ("x", "y", "z") for r in got)
    assert [r["rnk"] for r in ranked] == list(range(1, len(got) + 1))


def test_bloom_membership_audit_properties(spark, tmp_path):
    """Bloom structural pins: false negatives are IMPOSSIBLE (every
    member probe hits), and a saturated filter (3000-word train vocab
    against 4096 bits, ~89% fill) must show measurable false positives
    on non-member probes — the sketch trades exactly this way."""
    from log_analysis_system_spark.queries.olap_extras import (
        q_bloom_membership_audit,
    )

    train_words = [f"tr{i}word" for i in range(3000)]
    eval_words = train_words[:40] + [f"ev{i}only" for i in range(60)]
    rows = [(1, " ".join(train_words), "en", "src5", 0),
            (2, " ".join(eval_words), "en", "src0", 0)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    r = q_bloom_membership_audit(spark, d).collect()[0]
    assert r["false_negatives"] == 0          # structural guarantee
    assert r["true_members"] == 40
    assert r["n_probes"] > 100                # words + reversals
    assert r["false_positives"] > 0           # saturated filter must FP
    assert r["fpr_ppm"] > 0


def test_modality_integrity_checks_planted_violations(spark, tmp_path):
    """Every cross-modal check fires on exactly its planted violation:
    a doc with no embedding, an orphan embedding, a duplicated vec_id,
    a 3-dim vector, and an all-zero vector."""
    from log_analysis_system_spark.queries.data_quality import (
        q_modality_integrity_checks,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 0) for i in range(4)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    vec = [0.1] * 64
    emb = [
        (0, vec), (1, vec), (1, vec),          # dup vec_id 1; doc 3 missing
        (9, vec),                              # orphan
        (2, [0.1, 0.2, 0.3]),                  # wrong dim
    ]
    emb.append((3, [0.0] * 64))                # zero vector (doc 3 covered)
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>"
    ).write.parquet(f"{d}/embeddings.parquet")

    got = {r["check_name"]: r["n_violations"]
           for r in q_modality_integrity_checks(spark, d).collect()}
    assert got == {
        "docs_without_embedding": 0,   # all 4 docs have some row
        "embeddings_without_doc": 1,   # vec_id 9
        "duplicate_vec_id": 1,         # one extra copy of vec_id 1
        "wrong_dimension": 1,          # the 3-dim row
        "zero_vector": 1,              # the all-zero row
    }


def test_kneser_ney_branch_semantics(spark, tmp_path):
    """Each KN branch fires on its planted case: a seen bigram gets the
    discounted+interpolated probability, an unseen history backs off to
    the continuation distribution, a word never seen as a continuation
    counts as OOV (no fake floor probability), and an all-OOV doc keeps
    its row with NULL xent."""
    import math

    from log_analysis_system_spark.queries.text_analysis import (
        q_kneser_ney_perplexity,
    )

    rows = [
        (0, "a b a b a c", "en", "s", 0),   # train: ab:2 ba:2 ac:1
        (2, "b c", "en", "s", 0),           # train: bc:1  -> T=4
        (1, "a b x c a", "en", "s", 0),     # score: ab, bx, xc, ca
        (3, "z z", "en", "s", 0),           # score: zz -> all OOV
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {r["doc_id"]: r for r in
           q_kneser_ney_perplexity(spark, d).collect()}

    # model: c1[a]=(3,2) c1[b]=(3,2); cont: a:1 b:1 c:2; T=4
    p_ab = (max(4 * 2 - 3, 0) * 4 + 3 * 2 * 1) / (4 * 3 * 4)  # seen
    p_xc = 2 / 4                                # unseen history -> cont
    p_ca = 1 / 4                                # unseen history -> cont
    exp_ll = sum(
        math.floor(math.log(p) * 1_000_000) for p in (p_ab, p_xc, p_ca)
    )
    r1 = got[1]
    assert (r1["n_scored"], r1["n_oov"]) == (3, 1)   # bx is OOV (x no cont)
    assert r1["ll_micro_nats"] == exp_ll
    assert r1["xent_nats"] == round(-exp_ll / (3 * 1_000_000), 6)

    r3 = got[3]
    assert (r3["n_scored"], r3["n_oov"]) == (0, 1)
    assert r3["ll_micro_nats"] == 0
    assert r3["xent_nats"] is None
    assert set(got) == {1, 3}  # train docs are not scored


def test_pca_top_component_dominant_axis(spark, tmp_path):
    """Power iteration must lock onto a planted dominant axis: dim 0
    carries ~all the variance, so the top loading saturates at the
    iterate scale on dim 0, every other dim stays near zero, and the
    anisotropy share approaches 1."""
    from log_analysis_system_spark.queries.similarity_audits import (
        PCA_SV,
        q_pca_top_component,
    )

    rows = []
    for k in range(40):
        vec = [0.001 * ((k + j) % 3) for j in range(64)]  # tiny noise
        vec[0] = 0.3 if k % 2 == 0 else -0.3              # dominant axis
        rows.append((k, vec))
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{d}/embeddings.parquet")

    out = {r["dim"]: r for r in q_pca_top_component(spark, d).collect()}
    assert len(out) == 64
    assert abs(out[0]["loading"]) == PCA_SV          # saturated top axis
    for j in range(1, 64):
        assert abs(out[j]["loading"]) < PCA_SV // 20  # everything else ~0
    share = out[0]["var_share_top1"]
    assert share == out[5]["var_share_top1"]          # constant column
    assert share > 0.99


def test_jl_projection_distortion_invariants(spark, tmp_path):
    """JL structural pins that hold for ANY ±1 sign matrix: a pair
    differing in exactly one dim has distortion EXACTLY 1e6 ppm
    ((±diff)^2 sums to K·diff^2), and an identical pair reports NULL
    (0/0 guarded), never a fake zero."""
    from log_analysis_system_spark.queries.similarity_audits import (
        q_jl_projection_audit,
    )

    base = [0.1] * 64
    v1 = list(base)
    v1[7] = 0.3                      # single-dim difference vs base
    rows = [(0, base), (1, v1), (2, list(base))]  # 2 == duplicate of 0
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(f"{d}/embeddings.parquet")

    got = {(r["vec_a"], r["vec_b"]): r
           for r in q_jl_projection_audit(spark, d).collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert got[(0, 1)]["distortion_ppm"] == 1_000_000
    assert got[(1, 2)]["distortion_ppm"] == 1_000_000
    dup = got[(0, 2)]
    assert dup["d2_orig"] == 0 and dup["d2_proj"] == 0
    assert dup["distortion_ppm"] is None


def test_dataset_cartography_matches_python_reference(spark, tmp_path):
    """Cartography pin vs a pure-Python reference on the planted
    separable fixture: per-doc confidence/variability/region must equal
    exact integer recomputation from the round-by-round weight
    snapshots — and the two doc populations must land in different
    regions (targets' scores MOVE during training; raw docs' don't)."""
    from log_analysis_system_spark.queries.training_prep import (
        CART_CONF_T,
        CART_VAR_T,
        QD_LR_DIV,
        QD_ROUNDS,
        q_dataset_cartography,
    )

    t_text = " ".join(["the"] * 30 + ["abcde"] * 105 + ["abcd"] * 15)
    r_text = " ".join(["12"] * 10 + ["123"] * 10)
    rows = [(i, t_text, "en", "src2" if i % 2 else "src3", 0)
            for i in range(10)]
    rows += [(i, r_text, "en", "src7", 0) for i in range(10, 50)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    feats = [(1, [1000, 750, 200, 1000, 450])] * 10 + [
        (0, [1000, 100, 0, 0, 250])
    ] * 40
    n = len(feats)
    w = [0] * 5
    snaps = []
    for _ in range(QD_ROUNDS):
        g = [0] * 5
        for y, x in feats:
            z = sum(x[j] * w[j] for j in range(5))
            for j in range(5):
                g[j] += x[j] * (z - y * 10**9)
        for j in range(5):
            mag = (abs(g[j]) // n) // QD_LR_DIV
            w[j] -= mag if g[j] >= 0 else -mag
        snaps.append(list(w))

    def ssdiv(a, b):
        return a // b if a >= 0 else -((-a) // b)

    def expect(x):
        sm = [ssdiv(sum(a * b for a, b in zip(x, wt)), 1000)
              for wt in snaps]
        s, sq = sum(sm), sum(v * v for v in sm)
        conf = ssdiv(s, QD_ROUNDS)
        var = (QD_ROUNDS * sq - s * s) // (QD_ROUNDS * QD_ROUNDS)
        region = ("ambiguous" if var >= CART_VAR_T
                  else "easy" if conf >= CART_CONF_T else "hard")
        return conf, var, region

    exp_t = expect([1000, 750, 200, 1000, 450])
    exp_r = expect([1000, 100, 0, 0, 250])
    assert exp_t[2] != exp_r[2]  # fixture spans distinct regions

    got = {r["doc_id"]: r for r in
           q_dataset_cartography(spark, d).collect()}
    for i in range(50):
        e = exp_t if i < 10 else exp_r
        r = got[i]
        assert (r["conf_micro"], r["var_micro2"], r["region"]) == e


def test_ppjoin_exact_pairs_and_threshold_boundary(spark, tmp_path):
    """PPJoin must emit EXACTLY the pairs with Jaccard >= 3/5 — pinned by
    hand on a fixture that straddles the boundary: 10-shingle docs with
    inter=8 give J=8/12=0.6667 (kept); inter=7 gives 7/13=0.5385
    (dropped). An identical pair pins J=1.0, and the audit row must
    report every inverted-index candidate while emitting only the true
    pairs (the no-false-negative contract of prefix filtering)."""
    from log_analysis_system_spark.queries.dedup import (
        q_ppjoin_jaccard,
        q_ppjoin_prune_audit,
    )

    a = [f"a{i}" for i in range(1, 13)]
    docs = [
        (1, " ".join(a)),                                   # a1..a12
        (2, " ".join(a[:10] + ["b1", "b2"])),               # inter 8 w/ 1
        (3, " ".join(a[:9] + ["c1", "c2", "c3"])),          # inter 7 w/ 1
        (4, " ".join(a)),                                   # identical to 1
        (5, " ".join(f"d{i}" for i in range(1, 13))),       # disjoint
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q_ppjoin_jaccard(spark, d).collect()
    }
    assert got == {(1, 2): 0.6667, (1, 4): 1.0, (2, 4): 0.6667}

    audit = q_ppjoin_prune_audit(spark, d).collect()[0]
    # pairs sharing any shingle: all of {1,2,3,4} choose 2
    assert audit["cand_inverted"] == 6
    assert audit["pairs_emitted"] == 3
    assert 3 <= audit["cand_prefix"] <= audit["cand_inverted"]
    assert audit["pruned_ppm"] == (
        (audit["cand_inverted"] - audit["cand_prefix"]) * 1_000_000
        // audit["cand_inverted"]
    )


def test_unimax_allocation_matches_iterative_waterfilling(spark, tmp_path):
    """The closed-form prefix condition must select the SAME capped set
    as literal iterative waterfilling (exact rationals): repeatedly give
    every source an equal share of the remaining budget and cap whoever
    exceeds their epoch ceiling, until stable. Skewed fixture -> mixed
    capped/uncapped; uniform fixture -> nobody capped and everyone gets
    floor(B/N). Also pins the global invariants: capped sources get
    exactly cap_tokens, uncapped sources all get the same value, and the
    total under-allocation is < #uncapped tokens."""
    from fractions import Fraction

    from log_analysis_system_spark.queries.training_prep import (
        UNIMAX_B_DEN,
        UNIMAX_B_NUM,
        UNIMAX_EPOCH_CAP,
        q_unimax_mixture_allocation,
    )

    def make(dirname, sizes):
        rows = [
            (i, " ".join(f"w{i}x{j}" for j in range(nt)), "en", src, nt)
            for i, (src, nt) in enumerate(sizes.items())
        ]
        d = str(tmp_path / dirname)
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).write.parquet(f"{d}/documents.parquet")
        return d

    def waterfill(sizes):
        caps = {s: UNIMAX_EPOCH_CAP * n for s, n in sizes.items()}
        budget = sum(sizes.values()) * UNIMAX_B_NUM // UNIMAX_B_DEN
        capped: set[str] = set()
        while True:
            m = len(sizes) - len(capped)
            rem = budget - sum(caps[s] for s in capped)
            share = Fraction(rem, m)
            new = {s for s in sizes if s not in capped and caps[s] <= share}
            if not new:
                break
            capped |= new
        leftover = budget - sum(caps[s] for s in capped)
        m = len(sizes) - len(capped)
        return {
            s: caps[s] if s in capped else leftover // m for s in sizes
        }, capped

    skewed = {"tiny": 10, "small": 40, "mid": 200, "big": 800, "huge": 950}
    uniform = {f"u{i}": 100 for i in range(5)}
    for name, sizes in [("skewed", skewed), ("uniform", uniform)]:
        expected, capped = waterfill(sizes)
        got = {
            r["source"]: r
            for r in q_unimax_mixture_allocation(
                spark, make(name, sizes)
            ).collect()
        }
        for s, n in sizes.items():
            assert got[s]["n_tokens"] == n
            assert got[s]["cap_tokens"] == UNIMAX_EPOCH_CAP * n
            assert got[s]["alloc_tokens"] == expected[s], (name, s)
            assert got[s]["capped"] == (s in capped)
            assert got[s]["epochs_ppm"] == expected[s] * 1_000_000 // n
        budget = sum(sizes.values()) * UNIMAX_B_NUM // UNIMAX_B_DEN
        alloc_sum = sum(expected.values())
        uncapped_n = len(sizes) - len(capped)
        assert 0 <= budget - alloc_sum < max(uncapped_n, 1)
    # skewed must actually exercise both branches; uniform must cap nobody
    _, capped_skew = waterfill(skewed)
    assert 0 < len(capped_skew) < len(skewed)
    _, capped_uni = waterfill(uniform)
    assert not capped_uni


def test_scd2_build_and_asof_enrich_semantics(spark, tmp_path):
    """SCD2 contract pinned by hand: consecutive duplicate statuses
    collapse into the open version (no new row), versions carry half-open
    [from, to) intervals with is_current on the last, a purchase exactly
    AT a change timestamp gets the NEW version, a purchase before any
    version gets NULLs, and an equal-timestamp change pair produces a
    zero-width interval that can never match (the newer version wins)."""
    import datetime

    from log_analysis_system_spark.queries.olap_extras import (
        q_scd2_asof_enrich,
        q_scd2_dimension_build,
    )

    t = [datetime.datetime(2024, 3, 1, 12, 0, i) for i in range(10)]
    rows = [
        # user 1: signup, dup signup (collapses), error; purchases around
        (1, t[1], 1, "signup", 1.0, "{}"),
        (2, t[2], 1, "purchase", 5.0, "{}"),
        (3, t[3], 1, "signup", 1.0, "{}"),     # consecutive dup
        (4, t[4], 1, "error", 1.0, "{}"),
        (5, t[4], 1, "purchase", 5.0, "{}"),   # exactly at the change
        (6, t[5], 1, "purchase", 5.0, "{}"),
        # user 2: purchase BEFORE any version
        (7, t[1], 2, "purchase", 5.0, "{}"),
        (8, t[2], 2, "signup", 1.0, "{}"),
        # user 3: equal-ts change pair -> zero-width first version
        (9, t[0], 3, "signup", 1.0, "{}"),
        (10, t[0], 3, "error", 1.0, "{}"),
        (11, t[0], 3, "purchase", 5.0, "{}"),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")

    dim = {
        (r["user_id"], r["version_n"]): r
        for r in q_scd2_dimension_build(spark, d).collect()
    }
    assert len(dim) == 5
    u1v1, u1v2 = dim[(1, 1)], dim[(1, 2)]
    assert (u1v1["status"], u1v2["status"]) == ("signup", "error")
    assert u1v1["effective_from"] == t[1] and u1v1["effective_to"] == t[4]
    assert u1v2["effective_to"] is None
    assert (u1v1["is_current"], u1v2["is_current"]) == (False, True)
    assert dim[(2, 1)]["is_current"] is True
    # equal-ts pair: v1 is zero-width, v2 open
    assert dim[(3, 1)]["effective_from"] == dim[(3, 1)]["effective_to"] == t[0]
    assert dim[(3, 2)]["status"] == "error"

    enr = {
        r["event_id"]: (r["status"], r["version_n"])
        for r in q_scd2_asof_enrich(spark, d).collect()
    }
    assert enr == {
        2: ("signup", 1),
        5: ("error", 2),   # boundary: the new version applies at its ts
        6: ("error", 2),
        7: (None, None),   # before any version
        11: ("error", 2),  # zero-width v1 never matches
    }


def test_phash_neardup_matches_python_reference(spark, tmp_path):
    """dHash semantics pinned two independent ways: (1) dhash64 equals a
    pure-Python (no numpy) bit-by-bit recompute on a synthetic gradient
    image; (2) the full query equals a Python-side reconstruction of
    raster -> hash -> bands -> Hamming for identical, near-identical and
    unrelated texts (identical docs MUST pair at hamming 0; the
    unrelated doc must never pair)."""
    import numpy as np

    from log_analysis_system_spark.operators.multimodal import dhash64
    from log_analysis_system_spark.queries.multimodal import (
        _RASTER_LEN,
        PHASH_BANDS,
        PHASH_MAX_HAMMING,
        q_multimodal_phash_neardup,
    )

    # (1) bit-level reference
    arr = np.zeros((16, 16, 3), dtype=np.uint8)
    for r in range(16):
        for c in range(16):
            arr[r, c] = ((r * 37 + c * 11) % 256, (r * 5) % 256, c * 13 % 256)
    gray = [
        [(299 * int(arr[r, c, 0]) + 587 * int(arr[r, c, 1])
          + 114 * int(arr[r, c, 2])) // 1000 for c in range(16)]
        for r in range(16)
    ]
    blk = [
        [sum(gray[2 * br + i][2 * bc + j] for i in range(2) for j in range(2))
         for bc in range(8)]
        for br in range(8)
    ]
    expect = 0
    for br in range(8):
        for bc in range(8):
            if blk[br][bc] > blk[br][(bc + 1) % 8]:
                expect |= 1 << (br * 8 + bc)
    if expect >= 1 << 63:
        expect -= 1 << 64
    assert dhash64(arr) == expect

    # (2) full query vs Python reconstruction
    base = "".join(
        chr(33 + ((i * 7 + (i * i) % 31) % 90)) for i in range(800)
    )
    t3 = base[:100] + "@@@" + base[103:]
    t4 = "".join(chr(33 + ((i * 13) % 90)) for i in range(800))
    texts = {1: base, 2: base, 3: t3, 4: t4}

    def py_hash(text):
        pad = text + " "
        r = text[:_RASTER_LEN]
        while len(r) < _RASTER_LEN:
            r += pad
        r = r[:_RASTER_LEN]
        a = np.frombuffer(r.encode("latin-1"), dtype=np.uint8).reshape(
            16, 16, 3
        )
        return dhash64(a)

    hashes = {i: py_hash(t) for i, t in texts.items()}

    def bands(h):
        return {(i, (h >> (16 * i)) & 0xFFFF) for i in range(PHASH_BANDS)}

    expected = {}
    for a in texts:
        for b in texts:
            if a < b and bands(hashes[a]) & bands(hashes[b]):
                ham = bin((hashes[a] ^ hashes[b]) & (2**64 - 1)).count("1")
                if ham <= PHASH_MAX_HAMMING:
                    expected[(a, b)] = ham

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in q_multimodal_phash_neardup(spark, d).collect()
    }
    assert got == expected
    assert got[(1, 2)] == 0
    assert not any(4 in p for p in got)


def test_length_bucket_batching_pinned(spark, tmp_path):
    """Bucket ceiling, batch count, and waste accounting pinned by hand:
    exact powers of two stay in their own bucket (the float-log2 trap),
    n_batches = ceil(n_docs / (BATCH_TOKENS // bucket)), and waste_ppm
    is the integer padded-empty share."""
    from log_analysis_system_spark.queries.training_prep import (
        LB_BATCH_TOKENS,
        q_length_bucket_batching,
    )

    # token counts: 16 is an exact power (must NOT round up to 32);
    # 17 -> 32; 100 -> 128; three docs of 1000 -> 1024
    lens = [16, 17, 100, 1000, 1000, 1000]
    rows = [
        (i, " ".join(f"w{j}" for j in range(n)), "en", "s", n)
        for i, n in enumerate(lens)
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    got = {
        r["bucket_len"]: r
        for r in q_length_bucket_batching(spark, d).collect()
    }
    assert set(got) == {16, 32, 128, 1024}
    assert got[16]["n_docs"] == 1 and got[16]["waste_ppm"] == 0
    assert got[32]["sum_tokens"] == 17
    assert got[32]["waste_ppm"] == (32 - 17) * 1_000_000 // 32
    # bucket 1024: batch_docs = 4096 // 1024 = 4 -> 3 docs = 1 batch
    assert got[1024]["n_docs"] == 3 and got[1024]["n_batches"] == 1
    assert got[1024]["padded_tokens"] == 3 * 1024
    # bucket 16: batch_docs = 256 -> 1 batch
    assert got[16]["n_batches"] == 1
    assert LB_BATCH_TOKENS == 4096


def test_incremental_agg_retraction_roundtrip(spark):
    """IVM retraction algebra pinned: applying a delta batch and then its
    exact negation restores the prior view bit-for-bit, a full
    retraction drops the key from the view entirely, and a mixed batch
    (insert + retract on one key) nets correctly."""
    from log_analysis_system_spark.queries.olap_extras import (
        incremental_agg_apply,
    )

    base = spark.createDataFrame(
        [(1, 2, 300), (2, 1, 50)], "key long, n long, sum_c long"
    )
    delta = spark.createDataFrame(
        [(1, 1, 100), (2, -1, 50), (3, 1, 70), (3, 1, 30), (3, -1, 70)],
        "key long, w long, value_c long",
    )
    after = {
        r["key"]: (r["n"], r["sum_c"])
        for r in incremental_agg_apply(base, delta).collect()
    }
    # key 1: 2+1 orders, 300+100; key 2 fully retracted; key 3 nets 1 row
    assert after == {1: (3, 400), 3: (1, 30)}

    # round-trip: apply the negation of the same delta -> original view
    from pyspark.sql import functions as F

    neg = delta.select("key", (-F.col("w")).alias("w"), "value_c")
    restored_df = incremental_agg_apply(
        incremental_agg_apply(base, delta), neg
    )
    restored = {
        r["key"]: (r["n"], r["sum_c"]) for r in restored_df.collect()
    }
    assert restored == {1: (2, 300), 2: (1, 50)}


def test_label_propagation_two_cliques(spark):
    """Planted communities: two triangles {1,2,3} and {4,5,6} bridged by a
    single 3-4 edge. Hand-unrolled sync LPA with (count DESC, label ASC)
    tie-breaks converges in 3 rounds to label 1 on the left triangle and
    label 3 on the right — the bridge is outvoted on both sides, and the
    deterministic tie-break is what makes round 1 reproducible at all
    (every node starts with all-distinct neighbor labels)."""
    from log_analysis_system_spark.queries.graph import label_propagation

    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    got = {r["node"]: r["label"] for r in label_propagation(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}


def test_forecast_backtest_mase_planted(spark):
    """Hand-computed backtest on a planted 10-day series: daily revenues
    10,20,...,100 dollars. Eval days t=8..10 (y=80,90,100 in dollars):
    naive errors 10,10,10 (sae 3000 cents); snaive7 errors 70,70,70
    (sae 21000); expanding-mean predictions floor(mean of prior days) =
    40,45,50 -> errors 40,45,50 (sae 13500). MASE ppm = sae*1e6 //
    sae_naive."""
    import datetime

    from log_analysis_system_spark.queries.temporal import MASE_SPARK_SQL

    rows = [
        (datetime.date(1995, 1, d), float(10 * d))
        for d in range(1, 11)
    ]
    spark.createDataFrame(
        rows, "o_orderdate date, o_totalprice double"
    ).createOrReplaceTempView("orders")
    got = {
        r["method"]: (r["n_evals"], r["mae_c"], r["mase_ppm"])
        for r in spark.sql(MASE_SPARK_SQL).collect()
    }
    spark.catalog.dropTempView("orders")
    assert got["naive"] == (3, 1000, 1_000_000)
    assert got["snaive7"] == (3, 7000, 7_000_000)
    assert got["expmean"] == (3, 4500, 4_500_000)


def test_forecast_backtest_mase_gap_days(spark):
    """Calendar-gap semantics: the backtest densifies the daily series
    with y=0 for orderless days, so lags stay CALENDAR offsets. Planted
    10-day series with day 4 missing (y=1000*d cents, d=1..10, y4=0):
    eval t=8..10 — naive errs 1000 each (sae 3000); snaive7 predicts
    y(t-7)=1000,2000,3000 → errs 7000 each (sae 21000); expmean
    predicts floor-means 3428,4000,4555 → errs 4572,5000,5445
    (sae 15017). Hand-checked integer pins; a non-densified backtest
    (lags over observed rows only) produces different numbers."""
    import datetime

    from log_analysis_system_spark.queries.temporal import MASE_SPARK_SQL

    rows = [
        (datetime.date(1995, 1, d), float(10 * d))
        for d in range(1, 11)
        if d != 4
    ]
    spark.createDataFrame(
        rows, "o_orderdate date, o_totalprice double"
    ).createOrReplaceTempView("orders")
    got = {
        r["method"]: (r["n_evals"], r["mae_c"], r["mase_ppm"])
        for r in spark.sql(MASE_SPARK_SQL).collect()
    }
    spark.catalog.dropTempView("orders")
    assert got["naive"] == (3, 1000, 1_000_000)
    assert got["snaive7"] == (3, 7000, 7_000_000)
    assert got["expmean"] == (3, 5005, 5_005_666)


def test_simhash_neardup_lossless_banding(spark, tmp_path):
    """The pigeonhole contract pinned: on a planted corpus, the banded
    query's pairs equal a Python all-pairs recompute of the 32-bit
    fingerprints at Hamming <= SIMHASH_MAX_HAMMING — the banding loses
    nothing (threshold < band count). Identical docs must pair at
    hamming 0; a disjoint-vocabulary doc must not pair with them."""
    import hashlib

    from log_analysis_system_spark.queries.dedup import (
        SIMHASH_MAX_HAMMING,
        SIMHASH_ND_BITS,
        q_dedup_simhash_neardup,
    )

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta theta",
        3: "alpha beta gamma delta epsilon zeta eta iota",
        4: "one two three four five six seven eight nine ten",
    }

    def py_simhash(text):
        votes = [0] * SIMHASH_ND_BITS
        for w in text.split(" "):
            wh = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            for j in range(SIMHASH_ND_BITS):
                votes[j] += 1 if (wh >> j) & 1 else -1
        return sum(1 << j for j in range(SIMHASH_ND_BITS) if votes[j] > 0)

    hashes = {i: py_simhash(t) for i, t in texts.items()}
    expected = {
        (a, b): bin(hashes[a] ^ hashes[b]).count("1")
        for a in texts
        for b in texts
        if a < b
        and bin(hashes[a] ^ hashes[b]).count("1") <= SIMHASH_MAX_HAMMING
    }

    d = str(tmp_path)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in q_dedup_simhash_neardup(spark, d).collect()
    }
    assert got == expected
    assert got[(1, 2)] == 0
    assert not any(4 in p for p in got)


def test_pareto_frontier_planted(spark):
    """Hand-computed skyline: sizes 1..4 with per-size min prices
    (1: $5, 2: $3, 3: $9, 4: $7). Maximize size / minimize price:
    size 4 always survives; size 3 ($9) is dominated by size 4 ($7);
    size 2 ($3) beats everything larger; size 1 ($5) is dominated by
    size 2. Frontier = {(4, 700), (2, 300)}."""
    from log_analysis_system_spark.queries.olap_extras import SKYLINE_SQL

    rows = [
        (1, 5.0), (1, 8.0),
        (2, 3.0), (2, 11.0),
        (3, 9.0),
        (4, 7.0), (4, 7.5),
    ]
    spark.createDataFrame(
        rows, "p_size int, p_retailprice double"
    ).createOrReplaceTempView("part")
    got = {
        r["size"]: (r["min_price_c"], r["n_parts"])
        for r in spark.sql(SKYLINE_SQL).collect()
    }
    spark.catalog.dropTempView("part")
    assert got == {4: (700, 2), 2: (300, 2)}


def test_mmr_diversified_topk_matches_pure_python(spark, tmp_path):
    """Planted-corpus parity: the Spark MMR greedy must match a pure-Python
    reimplementation of the same integer arithmetic (quantize -> ppm
    cosines -> 7*rel - 3*maxsim greedy, ties to smaller id) on a corpus
    engineered so diversity CHANGES the ranking: near-duplicate high-rel
    cluster + spread mid-rel candidates. Also pins that pick 1 is the
    pure-relevance argmax and every query gets exactly MMR_K rows."""
    import math

    import numpy as np
    import pandas as pd

    from log_analysis_system_spark.queries.similarity import (
        MMR_K,
        MMR_POOL,
        N_QUERIES,
        _MMR_W_DIV,
        _MMR_W_REL,
        q_mmr_diversified_topk,
    )

    rng = np.random.RandomState(7)
    vecs = {}
    for q in range(1, N_QUERIES):
        vecs[q] = rng.randn(64)
    # Query 0 = a + b with a ⊥ b. The a-cluster (100-104, mutually
    # near-identical) is slightly MORE relevant than the b-cluster
    # (200-204), so pure relevance ranks all five a-dups first — but
    # after one a-dup is taken, the ~3e6-ppm within-cluster penalty
    # exceeds the ~0.1e6-ppm relevance gap and MMR must alternate
    # clusters. That asymmetry is what the final assert pins.
    a = rng.randn(64)
    b = rng.randn(64)
    b -= (b @ a) / (a @ a) * a
    vecs[0] = a + b
    for i in range(5):
        vecs[100 + i] = 1.05 * a + 0.01 * rng.randn(64)
    for i in range(5):
        vecs[200 + i] = b + 0.01 * rng.randn(64)
    ids = sorted(vecs)
    pd.DataFrame(
        {"vec_id": ids, "embedding": [vecs[i].astype("float32") for i in ids]}
    ).to_parquet(tmp_path / "embeddings.parquet")

    got = {}
    for r in q_mmr_diversified_topk(spark, str(tmp_path)).collect():
        got.setdefault(r["query_id"], {})[r["rnk"]] = (
            r["neighbor_id"], r["rel_ppm"],
        )
    spark.catalog.clearCache()

    # pure-Python reference with the engines' integer arithmetic
    def quant(v):
        return np.floor(v.astype(np.float64) * 1000).astype(np.int64)

    def ppm(a, b):
        qa, qb = quant(a), quant(b)
        dot = int(qa @ qb)
        v = 1e6 * dot / (math.sqrt(int(qa @ qa)) * math.sqrt(int(qb @ qb)))
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    assert set(got) == set(range(N_QUERIES))
    for q in range(N_QUERIES):
        rel = {c: ppm(vecs[q], vecs[c]) for c in ids if c != q}
        pool = sorted(rel, key=lambda c: (-rel[c], c))[:MMR_POOL]
        sel = [pool[0]]
        while len(sel) < MMR_K:
            rem = [c for c in pool if c not in sel]
            best = min(
                rem,
                key=lambda c: (
                    -(
                        _MMR_W_REL * rel[c]
                        - _MMR_W_DIV
                        * max(ppm(vecs[c], vecs[s]) for s in sel)
                    ),
                    c,
                ),
            )
            sel.append(best)
        assert len(got[q]) == MMR_K
        assert [got[q][r][0] for r in range(1, MMR_K + 1)] == sel, q
        # pick 1 is the pure-relevance argmax
        assert got[q][1][0] == pool[0]
    # diversity changed SOMETHING vs pure relevance for query 0 (the
    # near-dup cluster cannot fill the whole list)
    rel0 = {c: ppm(vecs[0], vecs[c]) for c in ids if c != 0}
    top_rel = sorted(rel0, key=lambda c: (-rel0[c], c))[:MMR_K]
    assert [got[0][r][0] for r in range(1, MMR_K + 1)] != top_rel


def test_point_in_time_features_planted(spark):
    """Hand-computed feature matrix on a planted order log. Customer 1:
    d1 one order $10; d3 TWO orders $20+$30; d5 one order $40. Customer
    2: d2 one order $100. Strictly-before semantics: the d3 examples see
    only d1 history (1 order, 1000c) — NOT each other; market feature =
    cumulative revenue through the PREVIOUS calendar day."""
    import datetime

    from log_analysis_system_spark.queries.temporal import PIT_SPARK_SQL

    d = lambda n: datetime.date(1995, 1, n)
    rows = [
        (1, 1, d(1), 10.0),
        (2, 1, d(3), 20.0),
        (3, 1, d(3), 30.0),
        (4, 1, d(5), 40.0),
        (5, 2, d(2), 100.0),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate date, "
        "o_totalprice double",
    ).createOrReplaceTempView("orders")
    got = {
        r["o_orderkey"]: (
            r["prior_orders"], r["prior_revenue_c"], r["days_since_prev"],
            r["mkt_prev_cum_c"],
        )
        for r in spark.sql(PIT_SPARK_SQL).collect()
    }
    spark.catalog.dropTempView("orders")
    assert got[1] == (0, 0, None, 0)            # no history, no market yet
    assert got[2] == (1, 1000, 2, 11000)        # d1 only; mkt thru d2
    assert got[3] == (1, 1000, 2, 11000)        # same-day twin sees the same
    assert got[4] == (3, 6000, 2, 16000)        # d1+d3; mkt thru d4 (=d3 cum)
    assert got[5] == (0, 0, None, 1000)         # cust 2; mkt thru d1


def test_kcore_peel_cascade(spark):
    """k-core peeling must CASCADE: in triangle{1,2,3} + path 3-4-5,
    node 5 (degree 1) peels first, which drops node 4 to degree 1 so it
    peels in the NEXT round — the triangle alone survives k=2, each
    member at in-core degree 2. Extra rounds past convergence are
    no-ops."""
    from log_analysis_system_spark.queries.graph import kcore_peel

    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    got = {r["node"]: r["degree"] for r in
           kcore_peel(edges, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_iterate_cuts_lineage_and_stops_on_repeating_probe(spark):
    """The round loop: the state's plan is one checkpoint leaf however many
    rounds ran; a probe that repeats stops the loop at that round,
    converged; a probe that never repeats runs every round, not
    converged."""
    from log_analysis_system_spark.operators.iterate import iterate

    seed = spark.createDataFrame([(0,)], "x long")

    def plan_lines(df):
        return df._jdf.queryExecution().analyzed().toString().count("\n")

    def inc(df):
        return df.select((F.col("x") + 1).alias("x"))

    two, _ = iterate(seed, inc, 2)
    six, converged = iterate(seed, inc, 6)
    assert six.first()["x"] == 6 and not converged
    assert plan_lines(six) == plan_lines(two)

    seen = []

    def probe(df):
        seen.append(df.first()["x"])
        return seen[-1]

    capped, converged = iterate(
        seed, lambda df: inc(df).select(F.least("x", F.lit(3)).alias("x")),
        10, probe,
    )
    assert converged and seen == [0, 1, 2, 3, 3]
    assert capped.first()["x"] == 3

    seen.clear()
    out, converged = iterate(seed, inc, 3, probe)
    assert not converged and seen == [0, 1, 2, 3]
    assert out.first()["x"] == 3


def _planted_discriminator_corpus(spark, tmp_path):
    """The separable fixture of test_quality_discriminator_planted_
    separation: 10 long/stopword/alpha-rich target docs (src2/src3) vs
    40 short digit-only raw docs (src7)."""
    t_text = " ".join(["the"] * 30 + ["abcde"] * 105 + ["abcd"] * 15)
    r_text = " ".join(["12"] * 10 + ["123"] * 10)
    rows = [(i, t_text, "en", "src2" if i % 2 else "src3", 0)
            for i in range(10)]
    rows += [(i, r_text, "en", "src7", 0) for i in range(10, 50)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    return d


def test_discriminator_auc_perfect_separation(spark, tmp_path):
    """On the planted separable fixture the rank-sum AUC must be exactly
    1.0: every positive outranks every negative, so 2U = 2*n_pos*n_neg
    and auc_ppm/gini_ppm hit their integer maxima with no rounding."""
    from log_analysis_system_spark.queries.model_eval import (
        q_discriminator_auc,
    )

    d = _planted_discriminator_corpus(spark, tmp_path)
    row = q_discriminator_auc(spark, d).collect()[0]
    assert (row["n_docs"], row["n_pos"], row["n_neg"]) == (50, 10, 40)
    assert row["u2"] == 2 * 10 * 40
    assert row["auc_ppm"] == 1_000_000
    assert row["gini_ppm"] == 1_000_000


def test_calibration_ece_planted(spark, tmp_path):
    """Reliability-table invariants on the planted fixture: bucket
    counts cover the corpus, the target bucket is purely positive, the
    raw bucket purely negative, and gap_ppm is |conf - acc| per row."""
    from log_analysis_system_spark.queries.model_eval import (
        q_calibration_ece,
    )

    d = _planted_discriminator_corpus(spark, tmp_path)
    rows = q_calibration_ece(spark, d).collect()
    assert sum(r["n_docs"] for r in rows) == 50
    assert sum(r["n_pos"] for r in rows) == 10
    for r in rows:
        assert r["gap_ppm"] == abs(r["conf_ppm"] - r["acc_ppm"])
        # separation: every bucket is pure (all-positive or all-negative)
        assert r["n_pos"] in (0, r["n_docs"])
        assert r["acc_ppm"] == r["n_pos"] * 1_000_000 // r["n_docs"]


def test_discriminator_group_fairness_planted(spark, tmp_path):
    """Per-source fairness on the planted fixture: target sources are
    all-positive (TPR 1.0, FPR NULL — no negatives to false-alarm on),
    the raw source is all-negative (TPR NULL, FPR 0, keep-rate 0)."""
    from log_analysis_system_spark.queries.model_eval import (
        q_discriminator_group_fairness,
    )

    d = _planted_discriminator_corpus(spark, tmp_path)
    got = {r["source"]: r for r in
           q_discriminator_group_fairness(spark, d).collect()}
    assert set(got) == {"src2", "src3", "src7"}
    for s in ("src2", "src3"):
        r = got[s]
        assert r["n_pos"] == r["n_docs"] == r["n_pred"] == 5
        assert r["ppr_ppm"] == 1_000_000
        assert r["tpr_ppm"] == 1_000_000
        assert r["fpr_ppm"] is None
    r = got["src7"]
    assert (r["n_docs"], r["n_pos"], r["n_pred"]) == (40, 0, 0)
    assert r["ppr_ppm"] == 0 and r["fpr_ppm"] == 0
    assert r["tpr_ppm"] is None


def test_rolling_distinct_users_interval_coverage(spark, tmp_path):
    """Hand-checkable interval-coverage case (trailing 24 h, hourly
    buckets): A active at hours 0 and 30, B at 0 only, C at 10 and 20.
    Window ends are the OBSERVED hours {0, 10, 20, 30}; per the
    identity each activity covers [a, min(a+23, next-1)]:
    A->[0,23],[30,53]; B->[0,23]; C->[10,19],[20,43]."""
    from datetime import datetime, timedelta

    from log_analysis_system_spark.queries.temporal import (
        q_rolling_distinct_users,
    )

    t0 = datetime(2024, 1, 1)
    acts = [("A", 0), ("A", 30), ("B", 0), ("C", 10), ("C", 20)]
    uid = {"A": 1, "B": 2, "C": 3}
    rows = [
        (i, t0 + timedelta(hours=h), uid[u], "click", 1.0, "")
        for i, (u, h) in enumerate(acts)
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    base = 473352  # hours since epoch of 2024-01-01 00:00 UTC
    got = {
        r["hour_bucket"] - base: r["active_users_24h"]
        for r in q_rolling_distinct_users(spark, d).collect()
    }
    assert got == {0: 2, 10: 3, 20: 3, 30: 2}


def test_hits_trade_graph_pure_python_model(spark, tmp_path):
    """HITS pin vs an exact pure-Python model on a planted bipartite
    graph (customers {1,2}, suppliers {1,2}; edges 1->S1, 1->S2,
    2->S1): the dominant pair (customer 1, supplier S1) must end at the
    L-inf ceiling and every other score must equal the integer model
    bit for bit."""
    from log_analysis_system_spark.queries.graph import (
        HITS_ROUNDS,
        HITS_SCALE,
        SUPP_OFFSET,
        q_hits_trade_graph,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "o_orderkey long, o_custkey long"
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(10, 1), (11, 2), (12, 1)], "l_orderkey long, l_suppkey long"
    ).write.parquet(f"{d}/lineitem.parquet")

    edges = [(1, 1), (1, 2), (2, 1)]  # (cust, supp)
    h = {1: HITS_SCALE, 2: HITS_SCALE}
    a = {}
    for _ in range(HITS_ROUNDS):
        raw_a = {}
        for c, s in edges:
            raw_a[s] = raw_a.get(s, 0) + h[c]
        m = max(raw_a.values())
        a = {s: v * HITS_SCALE // m for s, v in raw_a.items()}
        raw_h = {}
        for c, s in edges:
            raw_h[c] = raw_h.get(c, 0) + a[s]
        m = max(raw_h.values())
        h = {c: v * HITS_SCALE // m for c, v in raw_h.items()}

    got = {
        (r["node"], r["role"]): r["score_ppm"]
        for r in q_hits_trade_graph(spark, d).collect()
    }
    assert got[(1, "hub")] == HITS_SCALE
    assert got[(SUPP_OFFSET + 1, "authority")] == HITS_SCALE
    for c, v in h.items():
        assert got[(c, "hub")] == v
    for s, v in a.items():
        assert got[(SUPP_OFFSET + s, "authority")] == v


def test_weighted_value_percentiles_hand_case(spark, tmp_path):
    """Weighted nearest-rank by hand: one group with prices/quantities
    (100c x 10u, 200c x 5u, 300c x 5u): total 20 units, running shares
    50%/75%/100% -> weighted p50 = 100c (10*100 >= 50*20), p90 = 300c
    (15*100 < 90*20 but 20*100 >= 90*20). Row-rank percentiles would
    say p50 = 200c — the weighting is what's under test."""
    from log_analysis_system_spark.queries.olap_extras import (
        q_weighted_value_percentiles,
    )

    rows = (
        [("A", "F", 1.00, 1.0)] * 10
        + [("A", "F", 2.00, 1.0)] * 5
        + [("A", "F", 3.00, 1.0)] * 5
    )
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "l_returnflag string, l_linestatus string, l_extendedprice double, "
        "l_quantity double",
    ).write.parquet(f"{d}/lineitem.parquet")
    row = q_weighted_value_percentiles(spark, d).collect()[0]
    assert row["total_weight"] == 20
    assert row["p50_cents"] == 100
    assert row["p90_cents"] == 300


def test_cuped_adjusted_lift_pure_python_model(spark, tmp_path):
    """CUPED pin vs an exact pure-Python model on planted per-user
    (pre, post) value pairs with a strong covariate: every reported
    integer (means, theta, rho2) must match the model bit for bit, and
    the adjusted arm gap must shrink relative to the raw gap (variance
    reduction actually happened)."""
    from datetime import datetime, timedelta

    from log_analysis_system_spark.queries.behavior import (
        CUPED_SPLIT_DAY,
        q_cuped_adjusted_lift,
    )

    # per-user (pre_cents, post_cents): post tracks pre closely; all
    # values are quarter-dollar multiples so value*100 is float-exact
    users = {uid: (100 * (uid % 7 + 1), 100 * (uid % 7 + 1) + 25 * (uid % 3))
             for uid in range(1, 41)}
    pre_t = datetime(2024, 1, 5)
    post_t = datetime(2024, 1, 25)
    rows = []
    eid = 0
    for uid, (x, y) in users.items():
        rows.append((eid, pre_t + timedelta(minutes=uid), uid, "click",
                     x / 100.0, ""))
        eid += 1
        rows.append((eid, post_t + timedelta(minutes=uid), uid, "click",
                     y / 100.0, ""))
        eid += 1
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{d}/events.parquet")

    import hashlib

    def ssdiv(a, b):
        return a // b if a >= 0 else -((-a) // b)

    arms = {}
    n = len(users)
    sx = sum(x for x, _ in users.values())
    sy = sum(y for _, y in users.values())
    sxx = sum(x * x for x, _ in users.values())
    sxy = sum(x * y for x, y in users.values())
    syy = sum(y * y for _, y in users.values())
    tnum, tden = n * sxy - sx * sy, n * sxx - sx * sx
    yden = n * syy - sy * sy
    theta = ssdiv(tnum * 1000, tden)
    for uid, (x, y) in users.items():
        arm = int(hashlib.md5(str(uid).encode()).hexdigest()[:15], 16) % 2
        na, sxa, sya = arms.get(arm, (0, 0, 0))
        arms[arm] = (na + 1, sxa + x, sya + y)
    exp = {}
    for arm, (na, sxa, sya) in arms.items():
        raw = ssdiv(sya * 1000, na)
        dev = ssdiv(sxa * 1000, na) - ssdiv(sx * 1000, n)
        exp[arm] = (na, raw, raw - ssdiv(theta * dev, 1000))

    got = {r["arm"]: r for r in q_cuped_adjusted_lift(spark, d).collect()}
    assert set(got) == set(exp)
    rho2 = ssdiv(
        ssdiv(tnum * 1000000, tden) * ssdiv(tnum * 1000000, yden), 1000000
    )
    for arm, (na, raw, adj) in exp.items():
        r = got[arm]
        assert r["n_users"] == na
        assert r["raw_mean_y_milli"] == raw
        assert r["adj_mean_y_milli"] == adj
        assert r["theta_milli"] == theta
        assert r["rho2_ppm"] == rho2
    a0, a1 = (got[a] for a in sorted(got))
    raw_gap = abs(a0["raw_mean_y_milli"] - a1["raw_mean_y_milli"])
    adj_gap = abs(a0["adj_mean_y_milli"] - a1["adj_mean_y_milli"])
    assert adj_gap <= raw_gap


def test_label_propagation_label_zero_decodes(spark):
    """Regression: the argmax encoding count*LPA_ENC - label puts label
    0 exactly on the count*LPA_ENC boundary, decoding it to the phantom
    label LPA_ENC (round-10 fix shifts the encoding by 1). A triangle
    containing node 0 must converge to label 0 — not to 100000000."""
    from log_analysis_system_spark.queries.graph import label_propagation

    und = [(0, 1), (0, 2), (1, 2)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src long, dst long",
    )
    got = {r["node"]: r["label"] for r in label_propagation(edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0}


def test_label_propagation_rejects_node_ids_past_lpa_enc(spark):
    """The argmax encoding decodes only node ids below LPA_ENC: a larger
    id must raise, not propagate corrupted labels."""
    import pytest

    from log_analysis_system_spark.queries.graph import (
        LPA_ENC,
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, LPA_ENC), (LPA_ENC, 1)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="LPA_ENC"):
        label_propagation(edges)

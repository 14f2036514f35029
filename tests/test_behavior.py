"""Behavioral-analytics queries (queries/behavior.py) + SemDeDup:
semantics on literal frames, plan-shape (scale) assertions on the
registered queries.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name):
    return (
        all_queries()[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


# ---------------------------------------------------------------------------
# funnel semantics — the ordering constraint is the whole point
# ---------------------------------------------------------------------------


def test_funnel_requires_strict_event_order(spark):
    """A purchase BEFORE the user's first view-then-click chain must
    not convert; one in order must."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        # user 1: view → click → purchase (converts all 3 stages)
        (1, "view", ts(0)),
        (1, "click", ts(1)),
        (1, "purchase", ts(2)),
        # user 2: purchase first, then view — view stage only
        (2, "purchase", ts(0)),
        (2, "view", ts(1)),
        # user 3: click before view, none after — view stage only
        (3, "click", ts(0)),
        (3, "view", ts(1)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    assert v.count() == 3
    assert [r.user_id for r in c.collect()] == [1]
    assert [r.user_id for r in p.collect()] == [1]


def test_funnel_is_monotone_on_real_data(spark):
    rows = {
        r.stage: r.n_users
        for r in all_queries()["purchase_funnel"](spark, SF_DIR).collect()
    }
    assert rows["view"] >= rows["click"] >= rows["purchase"]


# ---------------------------------------------------------------------------
# gap-fill semantics — dense span, zero-fill, forward-fill
# ---------------------------------------------------------------------------


def test_gapfill_dense_span_and_forward_fill(spark):
    out = all_queries()["user_daily_gapfill"](spark, SF_DIR)
    one = (
        out.filter(F.col("user_id") == out.select("user_id").first().user_id)
        .orderBy("day")
        .collect()
    )
    days = [dt.date.fromisoformat(r.day) for r in one]
    # dense: consecutive calendar days, no holes in the user's span
    assert all((b - a).days == 1 for a, b in zip(days, days[1:]))
    # first day of the span is the user's first event day → has events
    assert one[0].n_events > 0 and one[0].filled_value is not None
    # forward fill: no null filled_value anywhere after day one
    assert all(r.filled_value is not None for r in one)
    # zero-filled gap days carry the previous observed value
    for prev, cur in zip(one, one[1:]):
        if cur.n_events == 0:
            assert cur.filled_value == prev.filled_value


# ---------------------------------------------------------------------------
# interval join — banded equi-join must stay a hash join
# ---------------------------------------------------------------------------


def test_interval_join_is_hash_join_not_nested_loop(spark):
    plan = _plan(spark, "purchase_error_correlation")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled — either is fine


def test_interval_join_counts_match_naive(spark):
    """The 3-bucket expansion is exactly equivalent to the naive
    inequality join (no double counting, no missed edge cases at the
    bucket boundary)."""
    out = {
        r.event_id: r.n_errors
        for r in all_queries()["purchase_error_correlation"](
            spark, SF_DIR
        ).collect()
    }
    from spark_streaming_kafka2elasticsearch_spark.queries import load_table

    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("p_us")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("eu"), F.unix_micros("ts").alias("e_us")
    )
    naive = (
        p.join(e, (p.user_id == e.eu), "left")
        .withColumn(
            "hit",
            (F.abs(F.col("p_us") - F.col("e_us")) <= 1800 * 1_000_000).cast("int"),
        )
        .groupBy("event_id")
        .agg(F.coalesce(F.sum("hit"), F.lit(0)).alias("n"))
    )
    naive_map = {r.event_id: r.n for r in naive.collect()}
    assert out == naive_map


# ---------------------------------------------------------------------------
# cohorts — offsets are non-negative, cohort 0 row exists per cohort
# ---------------------------------------------------------------------------


def test_cohort_retention_shape(spark):
    rows = all_queries()["user_cohort_retention"](spark, SF_DIR).collect()
    assert rows and all(r.week_offset >= 0 for r in rows)
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r.n_users
    for cohort, offs in by_cohort.items():
        # week 0 is the cohort's own first week — every member is active
        assert 0 in offs, cohort
        # retention can never exceed the cohort's own size
        assert all(n <= offs[0] for n in offs.values()), cohort


# ---------------------------------------------------------------------------
# SemDeDup — centroid broadcast + greedy prune semantics
# ---------------------------------------------------------------------------


def test_semdedup_plan_has_no_cross_join(spark):
    """Assignment is an Arrow matmul scan (no join at all); the
    remaining joins (vector re-attach, intra-cluster pair scan) must
    be hash joins — never a cartesian or an unconditioned BNLJ.
    Since r7 the operator materializes its result by default (cache
    hygiene), which collapses the registered query's final plan to an
    RDD scan — so inspect the LAZY form the operator exposes for
    exactly this purpose."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        semdedup_assignments,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    df = semdedup_assignments(
        emb, cents, threshold=0.40, id_col="vec_id", vec_col="embedding",
        materialize=False,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan


def test_semdedup_greedy_prune_on_literal_vectors(spark):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        semdedup_assignments,
    )

    # two orthogonal clusters; ids 10,11 are near-dups of each other,
    # id 12 is the same direction again (greedy keeps ONLY the lowest
    # id), id 20 is alone in the second cluster.
    vecs = [
        (10, [1.0, 0.0]),
        (11, [0.999, 0.01]),
        (12, [0.998, 0.02]),
        (20, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<float>",
    )
    out = {
        r.vec_id: (r.cluster_id, r.keep)
        for r in semdedup_assignments(df, cents, threshold=0.9).collect()
    }
    assert out[10] == (0, True)
    assert out[11] == (0, False)
    assert out[12] == (0, False)  # pruned vs 10 OR 11 — either suffices
    assert out[20] == (1, True)


# ---------------------------------------------------------------------------
# BFS hops — literal chain graph: exact distances, bound, early exit
# ---------------------------------------------------------------------------


def test_bfs_hops_chain_graph_exact_distances(spark, twins):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import bfs_hops

    # chain 1-2-3-4-5-6, plus isolated 99; seed at node 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,)], "_id long")
    for leg in twins:
        out = {r._n: r.hops for r in bfs_hops(edges, seeds, max_hops=3).collect()}
        # exact shortest distances, truncated at the hop bound
        assert out == {1: 0, 2: 1, 3: 2, 4: 3}, leg


def test_bfs_hops_multi_source_takes_min_distance(spark, twins):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import bfs_hops

    # path 1-2-3-4-5 with seeds at both ends: 3 is 2 hops from either
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "_id long")
    for leg in twins:
        out = {r._n: r.hops for r in bfs_hops(edges, seeds, max_hops=6).collect()}
        assert out == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}, leg


def test_bfs_hops_early_exit_on_empty_frontier(spark, twins):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import bfs_hops

    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    no_edges = spark.createDataFrame([], "id_a long, id_b long")
    seeds = spark.createDataFrame([(1,)], "_id long")
    for leg in twins:
        # max_hops far beyond the graph: loop must stop at the empty
        # frontier, and the result is just the 2-node component
        out = {r._n: r.hops for r in bfs_hops(edges, seeds, max_hops=50).collect()}
        assert out == {1: 0, 2: 1}, leg
        # an empty graph stops at once: the seeds alone, at hop 0
        out = {r._n: r.hops for r in bfs_hops(no_edges, seeds).collect()}
        assert out == {1: 0}, leg


# ---------------------------------------------------------------------------
# fuzzy levenshtein pairs — banding correctness + plan shape
# ---------------------------------------------------------------------------


def test_fuzzy_pairs_match_naive_all_pairs(spark):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        fuzzy_levenshtein_pairs,
    )

    names = ["kitten", "sitten", "sitting", "kite", "cat", "bat", "cart"]
    df = spark.createDataFrame([(n,) for n in names], "p_name string")
    got = {
        (r.name_a, r.name_b): r.dist
        for r in fuzzy_levenshtein_pairs(df, "p_name", max_dist=2).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            x, y = sorted([a, b])
            d = lev(x, y)
            if d <= 2:
                want[(x, y)] = d
    assert got == want


def test_fuzzy_pairs_plan_is_hash_join(spark):
    plan = _plan(spark, "part_name_fuzzy_pairs")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


# ---------------------------------------------------------------------------
# triangle counts — literal graph semantics + plan shape
# ---------------------------------------------------------------------------


def test_triangle_counts_literal_graph(spark, twins):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        triangle_counts,
    )

    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a chain 5-6-7
    # (triangle-free) and a dangling edge 4-5 bridging them.
    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    edges = spark.createDataFrame(
        k4 + [(5, 6), (6, 7), (4, 5)], "id_a long, id_b long"
    )
    for leg in twins:
        out = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
        # chain/bridge nodes are absent (no triangle), K4 nodes count 3 each
        assert out == {1: 3, 2: 3, 3: 3, 4: 3}, leg


def test_triangle_counts_unordered_and_dup_edges_are_canonicalized(spark, twins):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        triangle_counts,
    )

    # same triangle given with mixed orientation + duplicates: the
    # operator filters to a<b and dedups, so exactly one triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    for leg in twins:
        out = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
        assert out == {1: 1, 2: 1, 3: 1}, leg


def test_triangle_query_plan_no_cartesian(spark):
    """The wedge-close joins must plan as equi hash joins.  The
    registered query ends in localCheckpoint(eager=True), whose
    executed plan collapses to a Scan ExistingRDD — asserting on THAT
    is vacuous (ADVICE r7), so inspect the LAZY operator plan via the
    materialize=False escape hatch (the same fix the semdedup plan
    test got)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    lazy = triangle_counts(edges, materialize=False)
    plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # proves the plan is the live operator tree, not a collapsed scan:
    # the wedge-close equi-joins must be visible
    assert "Join" in plan, plan


# ---------------------------------------------------------------------------
# delta-vs-corpus incremental dedup — asymmetry + corpus-side cap
# ---------------------------------------------------------------------------


def test_delta_corpus_check_is_asymmetric(spark):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        delta_corpus_jaccard_pairs,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "the quick brown fox jumps over the lazy cat", "en"),  # dup of 1
            (3, "completely different text about spark engines", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    delta = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog", "en"),  # dup of 1
            (11, "nothing like anything in the corpus at all", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        (r.delta_id, r.corpus_id): r.jaccard
        for r in delta_corpus_jaccard_pairs(
            delta, corpus, id_col="doc_id", block_cols=["lang"], min_jaccard=0.3
        ).collect()
    }
    # delta 10 matches corpus 1 exactly (jaccard 1.0) and corpus 2 partially;
    # the corpus-internal dup pair (1,2) must NOT appear, nor delta-delta
    assert out[(10, 1)] == 1.0
    assert (10, 2) in out and 0.3 <= out[(10, 2)] < 1.0
    assert all(k[0] == 10 for k in out), out


def test_delta_corpus_cap_is_corpus_side(spark):
    """A shingle capped by CORPUS document frequency is dropped from
    both sides; delta-batch content cannot flip a shingle's status."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        delta_corpus_jaccard_pairs,
    )

    # shingle "a b c" appears in 3 corpus docs -> capped at max_doc_freq=2
    corpus = spark.createDataFrame(
        [(i, "a b c", "en") for i in (1, 2, 3)],
        "doc_id long, text string, lang string",
    )
    delta = spark.createDataFrame(
        [(10, "a b c", "en")], "doc_id long, text string, lang string"
    )
    out = delta_corpus_jaccard_pairs(
        delta, corpus, id_col="doc_id", block_cols=["lang"],
        min_jaccard=0.1, max_doc_freq=2,
    ).collect()
    assert out == []  # the only shared shingle is a corpus stop-shingle


def test_delta_corpus_novel_shingles_stay_in_denominator(spark):
    """A mostly-novel delta doc sharing a few corpus-known shingles
    must score LOW: its corpus-unseen shingles stay in the Jaccard
    denominator (they are not over-frequent, merely unseen).  Guards
    the r6 advisory bug where the delta side was inner-joined against
    the df<=cap corpus set, silently dropping every novel shingle and
    inflating jaccard toward 1."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        delta_corpus_jaccard_pairs,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma", "en")],
        "doc_id long, text string, lang string",
    )
    # delta doc = corpus doc's one shingle + 9 novel shingles
    novel = " ".join(f"w{i}" for i in range(11))  # 9 trigram shingles
    delta = spark.createDataFrame(
        [(10, f"alpha beta gamma {novel}", "en")],
        "doc_id long, text string, lang string",
    )
    out = delta_corpus_jaccard_pairs(
        delta, corpus, id_col="doc_id", block_cols=["lang"],
        min_jaccard=0.01, max_doc_freq=50,
    ).collect()
    assert len(out) == 1
    # intersection=1 ("alpha beta gamma"); sizes: delta 12 shingles,
    # corpus 1 -> jaccard = 1/12.  The buggy reduction scored 1/1 = 1.0.
    assert abs(out[0].jaccard - 1 / 12) < 1e-12, out


# ---------------------------------------------------------------------------
# leakage-safe split — group integrity invariant
# ---------------------------------------------------------------------------


def test_leakage_safe_split_component_integrity(spark):
    """Every near-dup component maps to exactly one split, and
    singleton components agree with the content-hash rule applied to
    their own text."""
    out = all_queries()["leakage_safe_split"](spark, SF_DIR)
    rows = out.collect()
    assert rows
    per_comp = {}
    for r in rows:
        per_comp.setdefault(r.component, set()).add(r.split)
    assert all(len(s) == 1 for s in per_comp.values())
    # distribution sanity: buckets span [0,255], thresholds honored
    for r in rows:
        assert 0 <= r.bucket <= 255
        assert r.split == (
            "train" if r.bucket < 204 else "val" if r.bucket < 230 else "test"
        )


# ---------------------------------------------------------------------------
# join-size audit — the prediction must equal the real join's count
# ---------------------------------------------------------------------------


def test_join_size_audit_prediction_is_exact(spark):
    from spark_streaming_kafka2elasticsearch_spark.queries import load_table

    pred = all_queries()["join_size_audit"](spark, SF_DIR).first()
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    actual = orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).count()
    assert pred.predicted_rows == actual
    assert pred.max_key_fanout >= 1


# ---------------------------------------------------------------------------
# image aHash — perceptual robustness properties
# ---------------------------------------------------------------------------


def test_image_ahash_perceptual_properties(spark):
    import numpy as np

    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        image_ahash,
        png_encode,
    )

    rng_img = np.zeros((32, 32, 3), dtype=np.uint8)
    xs = np.arange(32)
    rng_img[..., 0] = xs[None, :] * 8          # horizontal ramp
    rng_img[..., 1] = xs[:, None] * 8          # vertical ramp
    rng_img[..., 2] = 128

    edited = rng_img.copy()
    edited[0:2, 0:2, :] = 255                  # tiny local edit (4 px)

    brighter = np.clip(rng_img.astype(np.int32) + 40, 0, 255).astype(np.uint8)

    inverted = 255 - rng_img                   # structurally different

    rows = [
        (1, bytearray(png_encode(rng_img))),
        (2, bytearray(png_encode(rng_img))),   # exact duplicate
        (3, bytearray(png_encode(edited))),
        (4, bytearray(png_encode(brighter))),  # uniform brightness shift
        (5, bytearray(png_encode(inverted))),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r.media_id: (r.ahash_hi, r.ahash_lo) for r in image_ahash(df).collect()}

    def hamming(a, b):
        return bin((a[0] ^ b[0]) & 0xFFFFFFFF).count("1") + bin(
            (a[1] ^ b[1]) & 0xFFFFFFFF
        ).count("1")

    assert out[1] == out[2]                      # exact dup → identical hash
    assert hamming(out[1], out[3]) <= 4          # tiny edit → tiny distance
    assert hamming(out[1], out[4]) <= 4          # brightness shift → robust
    assert hamming(out[1], out[5]) >= 20         # inversion → far away


def test_label_propagation_splits_bridged_triangles(spark, twins):
    """LPA vs CC granularity: two triangles {1,2,3} and {4,5,6}
    joined by one bridge edge 3–4.  Connected components reports ONE
    cluster; label propagation's majority vote dissolves the bridge
    and keeps the dense families separate.  Deterministic by the
    struct-(count, -label) argmax; this graph settles by round 3.
    Isolated node 7 keeps its own id."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "_id long")
    for leg in twins:
        out = {
            r["_id"]: r["community"]
            for r in label_propagation(edges, nodes, rounds=4).collect()
        }
        assert out[1] == out[2] == out[3] == 1, leg
        assert out[4] == out[5] == out[6] == 3, leg
        assert out[7] == 7, leg


def test_hamming64_band_pairs_generic_bit63(spark):
    """The signature-agnostic banded-Hamming core handles negative
    longs (bit 63 set): band extraction masks after the arithmetic
    shiftright, and the verify popcount spans all 64 bits."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        hamming64_band_pairs,
    )

    rows = [(1, -(2**63)), (2, -(2**63) + 1), (3, 0x0F0F0F0F0F0F0F0F)]
    sig = spark.createDataFrame(rows, "id long, sig64 long")
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming64_band_pairs(
            sig, "id", "sig64", max_hamming=3
        ).collect()
    }
    assert out == {(1, 2): 1}


def test_image_near_dup_pairs_variant_recall(spark):
    """End-to-end image dedup: decode → aHash → banded Hamming pairs.
    Each base image's corner-watermarked variant lands within Hamming
    3 for the overwhelming majority of ids (the measured distribution
    is ~98% ≤ 3), and the id-keyed bright-cell pattern keeps distinct
    base images far apart so cross-id pairs stay rare."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        hamming64_band_pairs,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        PNG_VARIANT_ID_OFFSET,
        image_ahash,
        synth_png_pair_table,
    )

    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    sig = image_ahash(synth_png_pair_table(ids, "doc_id")).select(
        "media_id",
        F.shiftleft("ahash_hi", 32).bitwiseOR(F.col("ahash_lo")).alias("sig64"),
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming64_band_pairs(
            sig, "media_id", "sig64", max_hamming=3
        ).collect()
    }
    assert all(h <= 3 for h in got.values())
    n_variant = sum(
        (i, i + PNG_VARIANT_ID_OFFSET) in got for i in range(40)
    )
    assert n_variant >= 30
    cross = [p for p in got if p[1] - p[0] != PNG_VARIANT_ID_OFFSET]
    assert len(cross) <= 10, cross


# ---------------------------------------------------------------------------
# containment — directed semantics on literal docs
# ---------------------------------------------------------------------------


def test_containment_is_directed_where_jaccard_fails(spark):
    """A short doc fully inside a long one: containment(sub→super)=1.0
    while Jaccard is small, and the reverse direction doesn't fire."""
    sub_text = "alpha beta gamma delta epsilon"  # 3 shingles
    super_text = sub_text + " " + " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, sub_text, "en"), (2, super_text, "en")],
        "doc_id long, text string, lang string",
    )
    from pyspark.sql import functions as F2

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        shingle_relation,
    )

    tok = shingle_relation(
        docs.withColumn("_block", F2.col("lang")), "doc_id", "text", 3,
        extra_cols=("_block",),
    )
    sizes = tok.groupBy("_id").agg(F2.count(F2.lit(1)).alias("_sz"))
    a = tok.select("_block", "_sh", F2.col("_id").alias("sub_id"))
    b = tok.select("_block", "_sh", F2.col("_id").alias("super_id"))
    inter = (
        a.join(b, ["_block", "_sh"])
        .filter(F2.col("sub_id") != F2.col("super_id"))
        .groupBy("sub_id", "super_id")
        .agg(F2.count(F2.lit(1)).alias("_i"))
    )
    out = {
        (r.sub_id, r.super_id): r.c
        for r in inter.join(
            sizes.select(F2.col("_id").alias("sub_id"), "_sz"), "sub_id"
        )
        .select("sub_id", "super_id", (F2.col("_i") / F2.col("_sz")).alias("c"))
        .collect()
    }
    assert out[(1, 2)] == 1.0          # sub fully contained in super
    assert out[(2, 1)] < 0.1           # reverse direction is tiny


# ---------------------------------------------------------------------------
# running distinct + transition matrix
# ---------------------------------------------------------------------------


def test_running_distinct_types_monotone_and_bounded(spark):
    out = all_queries()["user_running_distinct_types"](spark, SF_DIR)
    one_user = out.first().user_id
    vals = [
        r.distinct_types_so_far
        for r in out.filter(F.col("user_id") == one_user)
        .orderBy("ts", "event_id")
        .collect()
    ]
    assert vals[0] == 1
    assert all(b - a in (0, 1) for a, b in zip(vals, vals[1:]))  # monotone +0/+1
    assert max(vals) <= 5  # five event types exist


def test_transition_matrix_rows_are_distributions(spark):
    rows = all_queries()["event_transition_matrix"](spark, SF_DIR).collect()
    by_cur = {}
    for r in rows:
        by_cur.setdefault(r.cur, []).append(r.p)
    for cur, ps in by_cur.items():
        assert abs(sum(ps) - 1.0) < 1e-12, cur


# ---------------------------------------------------------------------------
# PageRank — exact decimal recurrence on a literal star graph
# ---------------------------------------------------------------------------


def test_pagerank_star_graph_matches_pure_decimal_simulation(spark, twins):
    """The operator's documented recurrence, replicated in pure Python
    Decimal, must match the Spark output STRING-exactly — proving the
    decimal staging (14/16-dp rounds, exact ×/+) is what actually runs,
    not an IEEE approximation of it."""
    from decimal import ROUND_HALF_UP, Decimal

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import pagerank

    # star: hub 1 — leaves 2..5; node 9 isolated
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 9)], "_id long")
    q14, q16 = Decimal("1e-14"), Decimal("1e-16")
    n = 6
    base = Decimal(0.15 / n).quantize(q14, ROUND_HALF_UP)
    inv = {1: Decimal(1.0 / 4).quantize(q14, ROUND_HALF_UP)}
    for v in (2, 3, 4, 5):
        inv[v] = Decimal(1.0).quantize(q14, ROUND_HALF_UP)
    r = {v: Decimal(1.0 / n).quantize(q14, ROUND_HALF_UP) for v in (1, 2, 3, 4, 5, 9)}
    nbrs = {1: [2, 3, 4, 5], 2: [1], 3: [1], 4: [1], 5: [1], 9: []}
    d = Decimal("0.85")
    for _ in range(8):
        nxt = {}
        for v, ns in nbrs.items():
            s = sum((r[u] * inv[u] for u in ns), Decimal(0))
            s16 = s.quantize(q16, ROUND_HALF_UP)
            nxt[v] = (base + d * s16).quantize(q16, ROUND_HALF_UP)
        r = nxt
    expected = {v: str(x.quantize(q16)) for v, x in r.items()}
    for leg in twins:
        out = {r._id: r.pr_score for r in pagerank(edges, nodes, iterations=8).collect()}
        assert out == expected, leg
        # structure: hub outranks leaves; isolated sits on the teleport floor
        assert Decimal(out[1]) > Decimal(out[2]) > Decimal(out[9]), leg
        assert Decimal(out[9]) == base, leg


def test_pagerank_symmetric_pair_equal_ranks(spark, twins):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import pagerank

    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "_id long")
    for leg in twins:
        out = {r._id: r.pr_score for r in pagerank(edges, nodes, iterations=6).collect()}
        assert out[1] == out[2], leg


# ---------------------------------------------------------------------------
# k-core — literal graph: pendant chain peels away, cycle+chord survives
# ---------------------------------------------------------------------------


def test_kcore_peels_pendant_chain_keeps_cycle(spark, twins):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import kcore

    # triangle 1-2-3 with a pendant chain 3-4-5 and an isolated edge 8-9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (8, 9)],
        "id_a long, id_b long",
    )
    for leg in twins:
        out = {r.node: r.core_degree for r in kcore(edges, k=2).collect()}
        # 5 peels (deg 1), then 4 (deg drops to 1), 8/9 peel immediately;
        # the triangle is the 2-core, every member at degree 2
        assert out == {1: 2, 2: 2, 3: 2}, leg


def test_kcore_k3_requires_dense_blob(spark, twins):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import kcore

    # K4 minus one edge has two deg-2 nodes -> empty 3-core;
    # full K4 survives with every node at degree 3
    k4_minus = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    for leg in twins:
        out = kcore(
            spark.createDataFrame(k4_minus, "id_a long, id_b long"), k=3
        ).collect()
        assert out == [], leg
        k4 = k4_minus + [(3, 4)]
        out2 = {
            r.node: r.core_degree
            for r in kcore(spark.createDataFrame(k4, "id_a long, id_b long"), k=3).collect()
        }
        assert out2 == {1: 3, 2: 3, 3: 3, 4: 3}, leg


def test_bpe_train_learns_sennrich_merges(spark, twins):
    """Pin the full 6-round merge sequence on the classic Sennrich-
    style corpus low*5 lower*2 newest*6 widest*3, hand-derived:
    r1 (e,s) 9 — ties with (s,t) 9, smaller left wins;
    r2 (es,t) 9; r3 (l,o) 7 — ties with (o,w) 7; r4 (lo,w) 7;
    r5 (e,w) 6 — three-way tie at 6 with (n,e), (w,est);
    r6 (ew,est) 6 — tie with (n,ew), smaller left wins.
    Exercises: count argmax, BOTH tie-break fields, and merged
    symbols compounding across rounds."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import bpe_train

    wf = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "tok string, c long",
    )
    for leg in twins:
        out = [
            (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
            for r in bpe_train(wf, rounds=6).orderBy("merge_rank").collect()
        ]
        assert out == [
            (1, "e", "s", 9),
            (2, "es", "t", 9),
            (3, "l", "o", 7),
            (4, "lo", "w", 7),
            (5, "e", "w", 6),
            (6, "ew", "est", 6),
        ], leg


def _bpe_legs(spark, twins, emits):
    """``bpe_train`` over the pinned 4-word table on both legs: per
    leg, ``emit`` → (dtypes, sorted rows).  Asserts the driver twin's
    Arrow-built output equals the distributed leg's, types included."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import bpe_train

    wf = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        "tok string, c long",
    )
    legs = {}
    for leg in twins:
        legs[leg] = {}
        for emit in emits:
            df = bpe_train(wf, rounds=6, emit=emit)
            legs[leg][emit] = (df.dtypes, sorted(tuple(r) for r in df.collect()))
    twin, distributed = legs.values()
    for emit in emits:
        assert twin[emit] == distributed[emit], emit
    return twin


def test_bpe_vocab_after_training_sennrich(spark, twins):
    """The trained tokenizer applied: after the 6 pinned merges, the
    final encodings are low→[low], lower→[low,e,r], newest→[n,ewest],
    widest→[w,i,d,est]; the vocab inventory weighted by word freq is
    hand-derived from those.  Both legs give the same merges and vocab,
    rows and column types."""
    out = _bpe_legs(spark, twins, ("merges", "vocab"))
    assert out["merges"][0] == [
        ("merge_rank", "int"),
        ("left_sym", "string"),
        ("right_sym", "string"),
        ("pair_count", "bigint"),
    ]
    assert len(out["merges"][1]) == 6
    assert out["vocab"][0] == [("symbol", "string"), ("corpus_count", "bigint")]
    assert dict(out["vocab"][1]) == {
        "low": 7, "e": 2, "r": 2, "n": 6, "ewest": 6,
        "w": 3, "i": 3, "d": 3, "est": 3,
    }


def test_token_budget_select_boundary_semantics(spark):
    """Hand-built: budget 10; docs (id, score, w): a full-bucket
    admit, a boundary bucket where the running sum stops mid-bucket
    (the next doc would overflow), and a doc past the cut that fits
    the leftover but must NOT be admitted (greedy order, not
    bin-packing)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        token_budget_select,
    )

    rows = [(1, 0.9, 4), (2, 0.8, 4), (3, 0.7, 3), (4, 0.6, 1)]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    got = sorted(
        r["doc_id"]
        for r in token_budget_select(df, budget=10, n_buckets=4).collect()
    )
    # greedy: 4 + 4 = 8 ok; +3 = 11 > 10 stops; doc 4 (w=1) would fit
    # the leftover 2 but is later in greedy order -> excluded.
    assert got == [1, 2]
    # Exact-budget boundary + zero-weight head: admitted buckets
    # exhaust the budget exactly (5+5 == 10), and the straddling
    # bucket's greedy head has weight 0 — the naive rule admits it
    # (cum stays == 10); pins _remaining >= 0.
    df2 = spark.createDataFrame(
        [(1, 0.9, 5), (2, 0.9, 5), (3, 0.5, 0), (4, 0.5, 2)],
        "doc_id long, score double, n_tokens long",
    )
    got2 = sorted(
        r["doc_id"]
        for r in token_budget_select(df2, budget=10, n_buckets=4).collect()
    )
    assert got2 == [1, 2, 3]


def test_token_budget_select_matches_global_window(spark):
    """Property: the two-phase bucket plan equals the naive global
    (score DESC, id) running-sum selection on a seeded random corpus
    with score ties, across several budgets and bucket counts
    (including n_buckets=1 — everything lands in the boundary
    bucket — and a bucket count far exceeding distinct scores)."""
    import random

    from pyspark.sql.window import Window as W

    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        token_budget_select,
    )

    rng = random.Random(42)
    rows = [
        (i, round(rng.choice([0.1, 0.25, 0.25, 0.5, 0.77, 0.9]), 2),
         rng.randint(1, 20))
        for i in range(200)
    ]
    # Zero-weight docs (empty-text shape: weight 0) sprinkled through
    # the score range — the naive rule admits them whenever the budget
    # is not already exceeded, INCLUDING at an exact-budget boundary
    # (cum stays == B); pins the _remaining >= 0 boundary fix.
    rows += [(200 + i, s, 0) for i, s in enumerate((0.9, 0.5, 0.25, 0.1))]
    # NULL-scored docs: the naive window's score DESC orders NULLS
    # LAST, so they are admitted only after every scored doc, budget
    # permitting — pins the dedicated NULL bucket (they must be
    # neither dropped nor admitted early).
    rows += [(300 + i, None, w) for i, w in enumerate((3, 1, 7))]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")
    win = W.orderBy(F.desc("score"), "doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    for budget in (0, 37, 500, 10_000):
        naive = sorted(
            r["doc_id"]
            for r in df.withColumn("cum", F.sum("n_tokens").over(win))
            .filter(F.col("cum") <= budget)
            .collect()
        )
        for n_buckets in (1, 8, 4096):
            got = sorted(
                r["doc_id"]
                for r in token_budget_select(
                    df, budget=budget, n_buckets=n_buckets
                ).collect()
            )
            assert got == naive, (budget, n_buckets)


def test_ranked_bucket_labels_matches_naive_rank(spark):
    """Property: ranked_bucket_labels (histogram + straddle-only
    windows) equals the naive per-partition row_number + integer
    thirds CASE on a seeded corpus with score ties across the
    threshold, NULL scores, a partition smaller than the label count,
    and a single-partition (part_col=None) run — across bucket counts
    including n_buckets=1 (everything straddles)."""
    import random

    from pyspark.sql.window import Window as W

    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        ranked_bucket_labels,
    )

    rng = random.Random(11)
    rows = [
        (i, rng.choice(["en", "fr", "de"]),
         round(rng.choice([0.1, 0.25, 0.25, 0.5, 0.77, 0.9]), 2))
        for i in range(150)
    ]
    rows += [(200, "tiny", 0.5), (201, "tiny", 0.4)]  # n=2 < 3 labels
    rows += [(300 + i, "en", None) for i in range(3)]  # NULLs label last
    df = spark.createDataFrame(rows, "doc_id long, lang string, score double")

    def naive(part):
        parts = [part] if part else []
        win = W.partitionBy(*parts).orderBy(F.desc("score"), "doc_id")
        nwin = W.partitionBy(*parts)
        base = F.expr("_n div 3")
        r = F.col("_r")
        return {
            (row["doc_id"], row["bucket"])
            for row in df.withColumn("_r", F.row_number().over(win))
            .withColumn("_n", F.count(F.lit(1)).over(nwin))
            .withColumn(
                "bucket",
                F.when(r <= base, "head")
                .when(r <= 2 * base, "middle")
                .otherwise("tail"),
            )
            .collect()
        }

    for part in ("lang", None):
        want = naive(part)
        for n_buckets in (1, 16, 4096):
            got = {
                (row["doc_id"], row["bucket"])
                for row in ranked_bucket_labels(
                    df, id_col="doc_id", score_col="score",
                    part_col=part, n_buckets=n_buckets,
                ).collect()
            }
            assert got == want, (part, n_buckets)


def test_ranked_bucket_labels_straddle_window_is_bucket_local(spark):
    """Structural pin against regressing to the naive global rank:
    the physical plan must keep the two-phase machinery — exactly one
    ``row_number`` window (the straddle leg), and that window's
    partition spec must include the score-bin column ``_bkt`` (a
    bin-local window over filtered rows), never a bare
    partition-by-lang window over the whole input."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        ranked_bucket_labels,
    )

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("lang"),
        (F.col("id") % 17).cast("double").alias("score"),
    )
    plan = (
        ranked_bucket_labels(
            df, id_col="doc_id", score_col="score", part_col="lang"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    rn_lines = [ln for ln in plan.splitlines() if "row_number" in ln]
    assert len(rn_lines) == 1, plan
    assert "_bkt" in rn_lines[0], rn_lines[0]


def test_prefix_filter_jaccard_matches_exact_join(spark):
    """Completeness of AllPairs prefix filtering (no recall tradeoff):
    on a seeded random corpus with heavy shingle overlap, the
    prefix-filtered pair set equals the exact uncapped inverted-index
    join at two thresholds.  Also pins that a universal stop-shingle
    (present in every doc) does not blow up or change results — it
    sorts last in the rarity order and stays out of prefixes."""
    import random

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        blocked_ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(0, 60, 2):
        n = rng.randint(6, 12)
        # 'common' appears in every doc -> a df=60 stop-shingle source
        words = ["common"] + [rng.choice(vocab) for _ in range(n)]
        lang = "en" if i % 4 else "fr"
        rows.append((i, lang, " ".join(words)))
        # near-dup twin: one word substituted mid-stream -> high but
        # not perfect shingle Jaccard, same block
        mutated = list(words)
        mutated[len(mutated) // 2] = "XSUB"
        rows.append((i + 1, lang, " ".join(mutated)))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    for t in (0.34, 0.5):
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in blocked_ngram_jaccard_pairs(
                df, id_col="doc_id", block_cols=["lang"], k_shingle=3,
                min_jaccard=t, max_doc_freq=None,
            ).collect()
        }
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in prefix_filter_jaccard_pairs(
                df, id_col="doc_id", block_cols=["lang"], k_shingle=3,
                min_jaccard=t,
            ).collect()
        }
        assert got == exact, t
        assert exact, t  # non-vacuous: the corpus must produce pairs


def test_prefix_filter_float_ceil_boundary(spark):
    """Float-ceil prefix-length boundary (adversarial construction):
    t=0.68 with n=75 makes the double product 51.000000000000007, so a
    bare ``ceil`` yields 52 and the prefix stops one slot short.  The
    corpus is built so the SMALLEST common shingle sits exactly at
    rarity rank 25 of the larger doc (24 unique df=1 tokens ahead of
    it) and the pair sits exactly at J = 51/75 = 0.68 — under the
    short prefix the pair is silently dropped; with the slack-ceil it
    must survive.  k_shingle=1 gives exact set control (shingle ≡
    token)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    common = [f"c{i:02d}" for i in range(51)]
    unique = [f"u{i:02d}" for i in range(24)]
    rows = [
        (1, "en", " ".join(unique + common)),  # n=75, common at ranks 25..75
        (2, "en", " ".join(common)),  # n=51, subset of doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = prefix_filter_jaccard_pairs(
        df, id_col="doc_id", block_cols=["lang"], k_shingle=1,
        min_jaccard=0.68,
    ).collect()
    assert [(r["id_a"], r["id_b"], r["n_common"]) for r in got] == [(1, 2, 51)]
    assert abs(got[0]["jaccard"] - 0.68) < 1e-12


def test_bpe_lexicon_final_segmentations(spark, twins):
    """emit="lexicon": the per-word serving artifact after the 6
    pinned merges — low→[low], lower→[low,e,r], newest→[n,ewest],
    widest→[w,i,d,est] (bracket-encoded) — the same rows and column
    types on both legs."""
    dtypes, rows = _bpe_legs(spark, twins, ("lexicon",))["lexicon"]
    assert dtypes == [("token", "string"), ("encoding", "string")]
    assert dict(rows) == {
        "low": "<low>",
        "lower": "<low><e><r>",
        "newest": "<n><ewest>",
        "widest": "<w><i><d><est>",
    }

"""Unit tests for the extended operator surface: joins, windows,
dedup, similarity, text, multimodal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
    blocked_ngram_jaccard_pairs,
    exact_dedup,
    minhash_lsh_candidate_pairs,
    shingles,
    simhash_table,
)
from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
    anti_join,
    range_join,
    semi_join,
)
from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
    decode_image_features,
    synth_media_table,
)
from spark_streaming_kafka2elasticsearch_spark.operators.similarity import brute_force_topk
from spark_streaming_kafka2elasticsearch_spark.operators.text import language_id
from spark_streaming_kafka2elasticsearch_spark.operators.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------


def test_semi_and_anti_join(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    right = spark.createDataFrame([(1,), (3,)], ["k"])
    assert {r["k"] for r in semi_join(left, right, "k").collect()} == {1, 3}
    assert {r["k"] for r in anti_join(left, right, "k").collect()} == {2}


def test_range_join(spark):
    events = spark.createDataFrame([(1, 5), (2, 15), (3, 25)], ["id", "t"])
    intervals = spark.createDataFrame(
        [(0, 10, "early"), (10, 20, "mid")], ["lo", "hi", "tag"]
    )
    out = range_join(events, intervals, "t", "lo", "hi")
    got = {(r["id"], r["tag"]) for r in out.collect()}
    assert got == {(1, "early"), (2, "mid")}  # 25 matches nothing


# ---------------------------------------------------------------------------
# windows (batch semantics of the streaming ops)
# ---------------------------------------------------------------------------


@pytest.fixture()
def ts_df(spark):
    rows = [
        ("2024-01-01 00:00:30", "a"),
        ("2024-01-01 00:01:59", "a"),
        ("2024-01-01 00:02:00", "a"),  # exactly on the boundary → next window
        ("2024-01-01 00:03:00", "b"),
    ]
    return spark.createDataFrame(rows, ["ts", "k"]).withColumn(
        "ts", F.to_timestamp("ts")
    )


def test_tumbling_window_boundaries(ts_df):
    out = tumbling_window_agg(ts_df, "ts", "2 minutes", keys=["k"])
    got = {
        (r["window"]["start"].strftime("%H:%M"), r["k"], r["total_orders"])
        for r in out.collect()
    }
    assert got == {("00:00", "a", 2), ("00:02", "a", 1), ("00:02", "b", 1)}


def test_sliding_window(ts_df):
    out = sliding_window_agg(ts_df, "ts", "2 minutes", "1 minute")
    # every event lands in exactly 2 windows
    assert sum(r["total_events"] for r in out.collect()) == 2 * ts_df.count()


def test_session_window(spark):
    rows = [("2024-01-01 00:00:00",), ("2024-01-01 00:00:30",), ("2024-01-01 00:10:00",)]
    df = spark.createDataFrame(rows, ["ts"]).withColumn("ts", F.to_timestamp("ts"))
    out = session_window_agg(df, "ts", "1 minute")
    counts = sorted(r["total_events"] for r in out.collect())
    assert counts == [1, 2]  # two sessions: the 10:00 event is its own


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("only two",)], ["text"])
    got = df.select(shingles("text", 3).alias("s")).collect()[0]["s"]
    assert got == ["only two"]  # shorter than k → whole doc as one shingle


def test_exact_dedup(spark):
    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], ["id", "text"])
    assert exact_dedup(df, ["text"]).count() == 2


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different words in this sentence about spark engines ok"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], ["doc_id", "text"]
    )
    pairs = minhash_lsh_candidate_pairs(df, "doc_id").collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (1, 2) in got and got[(1, 2)] > 0.5
    assert all(k == (1, 2) or min(v, 1) < 0.2 for k, v in got.items())


def test_blocked_jaccard_requires_positive_threshold(spark):
    df = spark.createDataFrame([(1, "a", "x y z")], ["doc_id", "lang", "text"])
    with pytest.raises(ValueError):
        blocked_ngram_jaccard_pairs(df, "doc_id", ["lang"], min_jaccard=0.0)


def test_blocked_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "en", "alpha beta gamma delta epsilon"),
            (2, "en", "alpha beta gamma delta epsilon"),
            (3, "fr", "alpha beta gamma delta epsilon"),  # other block: excluded
        ],
        ["doc_id", "lang", "text"],
    )
    pairs = blocked_ngram_jaccard_pairs(df, "doc_id", ["lang"], min_jaccard=0.5).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely unrelated content about query optimizers"),
        ],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["simhash64"] for r in simhash_table(df, "doc_id").collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])


# ---------------------------------------------------------------------------
# similarity / vectors
# ---------------------------------------------------------------------------


def test_vector_functions(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], ["a", "b"])
    rows = df.select(
        dot_product("a", "b").alias("dot"),
        l2_norm("a").alias("na"),
        cosine_similarity("a", "b").alias("cos"),
    ).collect()
    assert rows[0]["dot"] == 0.0 and rows[0]["cos"] == 0.0
    assert rows[1]["cos"] == pytest.approx(1.0)
    assert rows[1]["na"] == pytest.approx(2**0.5)


def test_brute_force_topk_exactness(spark):
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0])], ["query_id", "query_embedding"]
    )
    out = brute_force_topk(corpus, queries, k=3, exclude_self=False).collect()
    # cosine with [1,0] is monotonically increasing in i → top-3 = 19,18,17
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [19, 18, 17]


# ---------------------------------------------------------------------------
# text / multimodal
# ---------------------------------------------------------------------------


def test_language_id_markers_and_ties(spark):
    markers = {"en": ["the"], "de": ["der"]}
    df = spark.createDataFrame(
        [(1, "the cat"), (2, "der hund"), (3, "nothing matches"), (4, "the der tie")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in language_id(df, markers).collect()}
    assert out == {1: "en", 2: "de", 3: "unknown", 4: "de"}  # tie → priority order (sorted)


def test_multimodal_decode_stub_deterministic(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "world")], ["doc_id", "text"])
    media = synth_media_table(docs, "doc_id", "text")
    a = {r["media_id"]: r.asDict() for r in decode_image_features(media, fake=True).collect()}
    b = {r["media_id"]: r.asDict() for r in decode_image_features(media, fake=True).collect()}
    assert a == b  # content-hash-seeded fake decode is reproducible
    assert all(64 <= r["width"] <= 256 for r in a.values())


def test_multimodal_real_decode_rejects_non_png(spark):
    """fake=False is the REAL PNG decoder now — bytes that aren't a
    PNG (here: utf-8 text) must fail loudly, not fake an answer."""
    docs = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    media = synth_media_table(docs, "doc_id", "text")
    with pytest.raises(Exception, match="not a PNG"):
        decode_image_features(media, fake=False).collect()


def test_multimodal_real_png_decode_end_to_end(spark):
    """REAL image decode: known pixels → PNG bytes → distributed
    mapInPandas decode → exact dims and exact (to 1e-12) mean luma."""
    import numpy as np

    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        png_encode,
    )

    rng = np.random.RandomState(11)
    imgs = {i: rng.randint(0, 256, (10 + i, 20 + i, 3), dtype=np.uint8) for i in (1, 2)}
    media = spark.createDataFrame(
        [(i, bytearray(png_encode(img))) for i, img in imgs.items()],
        "media_id long, content binary",
    )
    got = {
        r["media_id"]: r.asDict()
        for r in decode_image_features(media, fake=False).collect()
    }
    for i, img in imgs.items():
        h, w, _ = img.shape
        luma = (
            0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]
        ).mean() / 255.0
        assert got[i]["width"] == w and got[i]["height"] == h
        assert got[i]["channels"] == 3
        assert abs(got[i]["mean_luma"] - luma) < 1e-12


def test_multimodal_real_wav_decode_end_to_end(spark):
    """REAL audio decode: a sine tone's decoded RMS must match the
    analytic amplitude/√2, and duration/rate come from the header."""
    import numpy as np

    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        decode_audio_features,
        wav_encode,
    )

    sr = 8000
    t = np.arange(sr // 4) / sr  # 250 ms
    samples = np.round(0.6 * 32767 * np.sin(2 * np.pi * 330 * t)).astype("<i2")
    media = spark.createDataFrame(
        [(1, bytearray(wav_encode(samples, sr)))], "media_id long, content binary"
    )
    row = decode_audio_features(media, fake=False).collect()[0]
    assert row["duration_ms"] == 250 and row["sample_rate"] == sr
    assert abs(row["rms_energy"] - 0.6 / np.sqrt(2)) < 1e-3


def test_multimodal_synth_real_tables_roundtrip(spark):
    """The registered real-decode queries' fixture generators produce
    genuinely decodable media: id-seeded PNG dims follow the generator
    formula; WAV duration follows its formula."""
    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        decode_audio_features,
        synth_png_table,
        synth_wav_table,
    )

    ids = spark.createDataFrame([(i,) for i in (0, 5, 42)], ["doc_id"])
    img = {
        r["media_id"]: r.asDict()
        for r in decode_image_features(
            synth_png_table(ids, "doc_id"), fake=False
        ).collect()
    }
    for i in (0, 5, 42):
        assert img[i]["width"] == 16 + (i * 7) % 48
        assert img[i]["height"] == 16 + (i * 13) % 32
    aud = {
        r["media_id"]: r.asDict()
        for r in decode_audio_features(
            synth_wav_table(ids, "doc_id"), fake=False
        ).collect()
    }
    for i in (0, 5, 42):
        assert aud[i]["duration_ms"] == 50 + (i * 17) % 200
        assert aud[i]["sample_rate"] == 16000


# ---------------------------------------------------------------------------
# round-2 scale guards: shingle relation, bucket caps, df caps, fast cosine
# ---------------------------------------------------------------------------


def test_shingle_relation_matches_array_form(spark):
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import shingle_relation

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "only two"),
            (3, "single"),
            (4, "x y x y x y"),  # repeated shingles → distinct matters
        ],
        ["doc_id", "text"],
    )
    rel = shingle_relation(df, "doc_id").collect()
    got = {}
    for r in rel:
        got.setdefault(r["_id"], set()).add(r["_sh"])
    expected = {
        r["doc_id"]: set(r["s"])
        for r in df.select("doc_id", shingles("text", 3).alias("s")).collect()
    }
    assert got == expected


def test_minhash_hot_bucket_capped(spark):
    """1k identical docs collapse into single LSH buckets per band; the
    census gate must drop them (bounded memory) while genuine near-dup
    pairs outside the hot bucket are still found."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        minhash_lsh_candidate_pairs,
    )

    boiler = [(i, "lorem ipsum dolor sit amet boilerplate page") for i in range(1000)]
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    rows = boiler + [(2001, base), (2002, near)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = minhash_lsh_candidate_pairs(
        df, "doc_id", max_bucket_size=64
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert (2001, 2002) in got and got[(2001, 2002)] > 0.5
    # no boilerplate pair survived the bucket gate
    assert all(a >= 2001 for a, _ in got)


def test_jaccard_df_cap_drops_stop_shingles(spark):
    """A shingle shared by every doc is dropped by the df-cap; Jaccard
    is computed over the reduced sets on both sides of the metric."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        blocked_ngram_jaccard_pairs,
    )

    # 4 docs share the prefix shingle "p q r"; doc pairs (1,2) also share
    # a rare tail.  cap=3 drops the universal shingle (df=4 > 3).
    df = spark.createDataFrame(
        [
            (1, "en", "p q r rare tail one"),
            (2, "en", "p q r rare tail two"),
            (3, "en", "p q r other body x"),
            (4, "en", "p q r something else y"),
        ],
        ["doc_id", "lang", "text"],
    )
    uncapped = blocked_ngram_jaccard_pairs(
        df, "doc_id", ["lang"], min_jaccard=0.01, max_doc_freq=None
    ).collect()
    capped = blocked_ngram_jaccard_pairs(
        df, "doc_id", ["lang"], min_jaccard=0.01, max_doc_freq=3
    ).collect()
    unc = {(r["id_a"], r["id_b"]): r["jaccard"] for r in uncapped}
    cap = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped}
    # every pair co-occurs via "p q r" uncapped; capped keeps only pairs
    # sharing sub-cap shingles, with jaccard over the reduced sets
    assert len(unc) == 6 and (1, 2) in cap
    assert all(p == (1, 2) or p not in cap for p in unc)
    # uncapped: inter {p q r, q r rare, r rare tail} / union of 5 = 0.6;
    # capped: the universal "p q r" leaves both numerator and sets → 2/4
    assert unc[(1, 2)] == pytest.approx(0.6)
    assert cap[(1, 2)] == pytest.approx(0.5)


def test_blocked_cosine_pairs_fast_matches_exact(spark):
    """The explode/codegen pair scan returns exactly the pairs (and,
    to accumulation noise, the sims) of the interpreted-fold form."""
    import random

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        blocked_cosine_pairs_fast,
    )

    rng = random.Random(7)
    rows = [
        (i, f"lab{i % 3}", [rng.uniform(-1, 1) for _ in range(16)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    fast = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in blocked_cosine_pairs_fast(
            df, "vec_id", "embedding", "label", threshold=0.2
        ).collect()
    }
    a = df.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("la"), F.col("embedding").alias("va")
    )
    b = df.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("lb"), F.col("embedding").alias("vb")
    )
    exact = {
        (r["id_a"], r["id_b"]): r["cs"]
        for r in a.join(b, (F.col("id_a") < F.col("id_b")) & (F.col("la") == F.col("lb")))
        .select("id_a", "id_b", cosine_similarity("va", "vb").alias("cs"))
        .filter(F.col("cs") >= 0.2)
        .collect()
    }
    assert set(fast) == set(exact)
    assert all(abs(fast[p] - exact[p]) < 1e-9 for p in fast)


def test_simhash_empty_doc_zero_signature(spark):
    df = spark.createDataFrame(
        [(1, "some real text here"), (2, ""), (3, "   ")], ["doc_id", "text"]
    )
    sigs = {r["doc_id"]: r["simhash64"] for r in simhash_table(df, "doc_id").collect()}
    assert sigs[2] == 0 and sigs[3] == 0 and sigs[1] != 0
    assert len(sigs) == 3


def test_connected_components_transitive(spark, twins):
    """Chain a—b—c plus isolated d: one component {a,b,c} labeled by
    its min, singleton d labels itself (diameter 2 → needs >1 round)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame([(2, 3), (3, 1)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["_id"])
    for leg in twins:
        got = {
            r["_id"]: r["component"]
            for r in connected_components(edges, nodes).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 4}, leg


def test_shingle_relation_property_matches_array_form(spark):
    """Property check: for arbitrary whitespace-heavy texts the codegen
    shingle relation and the array form produce identical per-doc
    shingle SETS (hypothesis drives the corpus; one Spark round-trip
    total keeps it fast)."""
    from hypothesis import given, settings, strategies as st

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        shingle_relation,
    )

    texts = st.lists(
        st.text(alphabet=list("ab \t\n"), max_size=40), min_size=1, max_size=8
    )

    @settings(max_examples=15, deadline=None)
    @given(texts)
    def check(corpus):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"]
        )
        rel = shingle_relation(df, "doc_id").collect()
        got = {}
        for r in rel:
            got.setdefault(r["_id"], set()).add(r["_sh"])
        expected = {
            r["doc_id"]: set(r["s"])
            for r in df.select("doc_id", shingles("text", 3).alias("s")).collect()
            if r["s"]
        }
        assert got == expected

    check()


def test_salted_join_equivalent_to_plain(spark):
    """Salting must not change the result set — only the shuffle
    distribution.  Hot key 7 dominates; compare against a plain join,
    inner and left (incl. unmatched fact keys emitting one null row)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        salted_equi_join,
    )

    fact = spark.createDataFrame(
        [(i, 7 if i % 3 else i % 5) for i in range(300)], ["row_id", "k"]
    )
    dim = spark.createDataFrame([(7, "hot"), (1, "one"), (99, "x")], ["k", "v"])
    for how in ("inner", "left"):
        salted = {
            (r["row_id"], r["v"])
            for r in salted_equi_join(fact, dim, "k", "k", salt_buckets=4, how=how).collect()
        }
        plain = {
            (r["row_id"], r["v"])
            for r in fact.join(dim, "k", how).collect()
        }
        assert salted == plain, how


def test_simhash_near_dup_pairs_mechanism(spark):
    """Hamming banding mechanism pin: exact duplicates collide in every
    band and verify at distance 0; unrelated docs never pair.  (At
    Hamming ≤ 3 SimHash is a near-EXACT dup detector — changing even
    1 of 20 tokens flips ~13 of 64 bits, because per-bit vote margins
    scale with √tokens; that physics is why the pipeline keeps MinHash
    for fuzzy similarity and SimHash for boilerplate-level dupes.)"""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact duplicate
            (3, base + " "),  # whitespace variant → same token stream
            (4, "unrelated words entirely different content here now ok"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(df, "doc_id", max_hamming=3).collect()
    }
    assert got == {(1, 2): 0, (1, 3): 0, (2, 3): 0}


def test_connected_components_path_graph(spark, twins):
    """Diameter ≫ 2 property: a 15-node path needs 14 propagation
    rounds — crossing several localCheckpoint lineage truncations —
    and must still converge to a single min-labeled component."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        connected_components,
    )

    n = 15
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["_id"])
    for leg in twins:
        got = {
            r["_id"]: r["component"]
            for r in connected_components(
                edges, nodes, max_iter=20, checkpoint_every=4
            ).collect()
        }
        assert got == {i: 0 for i in range(n)}, leg


def test_connected_components_raises_on_non_convergence(spark, twins):
    """A graph whose diameter exceeds max_iter must RAISE — silently
    returning truncated labels would split one duplicate group into
    several (ADVICE r2)."""
    import pytest as _pytest

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(12)], ["_id"])
    for leg in twins:
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, nodes, max_iter=4)


@pytest.mark.parametrize("flag", ["1", "0"])
@pytest.mark.parametrize(
    "op", ["connected_components", "pagerank", "label_propagation"]
)
def test_graph_ops_reject_checkpoint_every_below_one(spark, monkeypatch, op, flag):
    """checkpoint_every < 1 is an input error on both legs: the
    distributed loops would otherwise label every node its own
    component or divide by zero."""
    from spark_streaming_kafka2elasticsearch_spark.operators import dedup

    monkeypatch.setenv("SPARK_GRAFT_TWINS", flag)
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (2,)], "_id long")
    with pytest.raises(ValueError, match="checkpoint_every"):
        getattr(dedup, op)(edges, nodes, checkpoint_every=0)


def test_connected_components_star_matches_iterative(spark, twins):
    """Property test: large-star/small-star and min-label propagation
    agree on random sparse graphs (components, labels, isolated
    nodes) — and the star variant crushes a 40-deep path in its
    O(log²) round budget, where label propagation would need 40."""
    import random

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    n = 60
    edge_list = sorted(
        {
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(50)
        }
    )
    edges = spark.createDataFrame(edge_list, ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["_id"])
    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    deep_nodes = spark.createDataFrame([(i,) for i in range(41)], ["_id"])
    for leg in twins:
        star = {
            r["_id"]: r["component"]
            for r in connected_components_star(edges, nodes).collect()
        }
        iterative = {
            r["_id"]: r["component"]
            for r in connected_components(edges, nodes, max_iter=30).collect()
        }
        assert star == iterative, leg
        got = {
            r["_id"]: r["component"]
            for r in connected_components_star(
                deep, deep_nodes, max_iter=12
            ).collect()
        }
        assert got == {i: 0 for i in range(41)}, leg


def test_simhash_max_hamming_validation(spark):
    """Band count derives from max_hamming (pigeonhole needs ≥ d+1
    bands — ADVICE r2); out-of-range thresholds raise instead of
    silently losing recall, and a wider threshold still finds the
    exact dups the 4-band default finds."""
    import pytest as _pytest

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "other stuff wholly unlike that")],
        ["doc_id", "text"],
    )
    for bad in (-1, 32, 64):
        with _pytest.raises(ValueError, match="max_hamming"):
            simhash_near_dup_pairs(df, "doc_id", max_hamming=bad)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(df, "doc_id", max_hamming=7).collect()
    }
    assert got == {(1, 2): 0}


def test_interval_join_requires_equi_keys(spark):
    """Empty equi_keys would silently degrade to a buffered non-equi
    stream-stream join (cross-product shape) — must raise (ADVICE r2)."""
    import pytest as _pytest

    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        stream_stream_interval_join,
    )

    df = spark.createDataFrame([(1,)], ["k"]).select(
        "k", F.current_timestamp().alias("ts")
    )
    with _pytest.raises(ValueError, match="equi_keys"):
        stream_stream_interval_join(
            df, df, "ts", "ts", [], "5 minutes", "10 minutes", "10 minutes"
        )


def test_decontamination_broadcasts_benchmark_side(spark):
    """Scale contract of the 13-gram decontaminator: the benchmark
    shingle set must be the BROADCAST side (a benchmark corpus is MBs
    against a 100 TB training corpus — the training scan must never
    shuffle for this join)."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    df = all_queries()["decontaminate_train_docs"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_join_backward_semantics(spark):
    """Strict vs non-strict tie handling, multiple right rows per
    left row (latest wins), unmatched lefts get nulls — pinned on a
    hand-computable fixture."""
    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        asof_join_backward,
    )

    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 20), (3, "v", 5)], ["eid", "k", "t"]
    )
    right = spark.createDataFrame(
        [("u", 5, 100, "a"), ("u", 10, 101, "b"), ("u", 15, 102, "c")],
        ["k", "rt", "rid", "tag"],
    )
    strict = {
        r["eid"]: (r["rid"], r["tag"])
        for r in asof_join_backward(
            left, right, ["k"], "t", "rt", ["rid", "tag"], strict=True, tie_col="rid"
        ).collect()
    }
    # t=10 strictly-before excludes the rt=10 row; t=20 sees rt=15.
    assert strict == {1: (100, "a"), 2: (102, "c"), 3: (None, None)}
    nonstrict = {
        r["eid"]: r["rid"]
        for r in asof_join_backward(
            left, right, ["k"], "t", "rt", ["rid", "tag"], strict=False, tie_col="rid"
        ).collect()
    }
    assert nonstrict == {1: 101, 2: 102, 3: None}


def test_asof_join_is_single_shuffle(spark):
    """The as-of join's scale claim: ONE hash exchange on the key
    (tag+union+window), never a range-join explosion — pinned on the
    registered events query's physical plan."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    df = all_queries()["events_last_error_asof"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan[:2000]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_chunk_documents_edges(spark):
    """Chunk arithmetic pinned: exact-fit doc → 1 chunk; one extra
    token → 2 chunks with the overlap region shared; short/empty docs."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        chunk_documents,
    )

    toks = [f"t{i}" for i in range(11)]
    df = spark.createDataFrame(
        [
            (1, " ".join(toks[:8])),   # n=8, c=8, o=2 → exactly 1 chunk
            (2, " ".join(toks[:9])),   # n=9 → 2 chunks (starts 0, 6)
            (3, "one"),                # short → 1 whole-doc chunk
            (4, ""),                   # empty → no rows
        ],
        ["doc_id", "text"],
    )
    got = {}
    for r in chunk_documents(df, "doc_id", chunk_tokens=8, overlap=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"], r["n_chunk_tokens"])
        )
    assert got[1] == [(0, " ".join(toks[:8]), 8)]
    assert got[2] == [
        (0, " ".join(toks[:8]), 8),
        (1, " ".join(toks[6:9]), 3),  # start 6, remainder chunk
    ]
    assert got[3] == [(0, "one", 1)]
    assert 4 not in got
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", chunk_tokens=8, overlap=8)


def test_merge_upsert_semantics(spark):
    """MERGE contract on a tiny frame: update replaces, insert adds,
    tombstone removes, untouched rows survive; delete column never
    leaks into the output."""
    from spark_streaming_kafka2elasticsearch_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    updates = spark.createDataFrame(
        [(2, "B", 99.0, False), (4, "d", 40.0, False), (3, "c", 30.0, True)],
        ["k", "s", "v", "is_delete"],
    )
    out = merge_upsert(base, updates, keys=["k"], delete_col="is_delete")
    assert set(out.columns) == {"k", "s", "v"}
    got = {r["k"]: (r["s"], r["v"]) for r in out.collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 4: ("d", 40.0)}


def test_merge_upsert_validation_and_broadcast_plan(spark):
    from spark_streaming_kafka2elasticsearch_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, "a")], ["k", "v"])
    upd = spark.createDataFrame([(1, "b")], ["k", "v"])
    with pytest.raises(ValueError, match="at least one key"):
        merge_upsert(base, upd, keys=[])
    with pytest.raises(ValueError, match="missing"):
        merge_upsert(base, upd, keys=["nope"])
    with pytest.raises(ValueError, match="matching columns"):
        merge_upsert(base, upd.withColumnRenamed("v", "w"), keys=["k"])

    plan = merge_upsert(
        base, upd, keys=["k"], broadcast_updates=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_scd2_from_changes_intervals(spark):
    """SCD2 contract on a tiny change log: chained validity intervals
    per key, deterministic same-timestamp ordering via the tiebreak,
    exactly one open (current) version per key."""
    from spark_streaming_kafka2elasticsearch_spark.operators.history import (
        scd2_from_changes,
    )

    rows = [
        (1, 100, 1, "a"),
        (1, 200, 2, "b"),
        (1, 200, 3, "c"),  # same ts as event 2 — tiebreak orders it after
        (2, 150, 4, "x"),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "seq", "state"])
    out = scd2_from_changes(df, keys=["k"], ts_col="ts", tiebreak_cols=["seq"])
    got = {
        r["seq"]: (r["valid_from"], r["valid_to"], r["is_current"])
        for r in out.collect()
    }
    assert got == {
        1: (100, 200, False),
        2: (200, 200, False),
        3: (200, None, True),
        4: (150, None, True),
    }
    with pytest.raises(ValueError):
        scd2_from_changes(df, keys=[], ts_col="ts")


def test_hll_sketch_union_matches_single_pass(spark):
    """Mergeability contract: unioning per-group HLL sketches must
    estimate the global distinct count as well as a single global
    sketch does (same sketch algorithm, same lgK), and both stay
    within a 5% band at 100k distinct values (the ~1.6% std error at
    lgK=12 makes 5% a >3-sigma bound)."""
    df = spark.range(100_000).withColumn("grp", (F.col("id") % 7).cast("int"))
    per = df.groupBy("grp").agg(F.hll_sketch_agg("id").alias("sk"))
    merged = per.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.hll_sketch_estimate("sk").alias("est")
    ).collect()[0]["est"]
    single = df.agg(F.hll_sketch_agg("id").alias("sk")).select(
        F.hll_sketch_estimate("sk").alias("est")
    ).collect()[0]["est"]
    assert merged == single  # union of partials ≡ one global sketch
    assert abs(merged - 100_000) / 100_000 < 0.05


def test_hashed_bow_embedding_counts_and_empty_doc(spark):
    """Hashing-trick featurizer: component sums must equal token
    counts (mass conservation), empty docs get the zero vector, and
    identical texts get identical vectors."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        hashed_bow_embedding,
    )

    df = spark.createDataFrame(
        [(1, "a b c a"), (2, ""), (3, "a b c a")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["emb"] for r in hashed_bow_embedding(df, "doc_id").collect()}
    assert sum(got[1]) == 4 and len(got[1]) == 16
    assert got[2] == [0] * 16
    assert got[1] == got[3]
    with pytest.raises(ValueError):
        hashed_bow_embedding(df, "doc_id", dim=17)


def test_y4m_roundtrip_pure_python():
    """Y4M codec: known luma planes → encode → parse → identical
    arrays, header fields, and frame count (no Spark needed)."""
    import numpy as np

    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        y4m_encode,
        y4m_parse,
    )

    rng = np.random.RandomState(5)
    frames = rng.randint(0, 256, (4, 18, 32), dtype=np.uint8)
    w, h, num, den, got = y4m_parse(y4m_encode(frames, fps=(30, 1)))
    assert (w, h, num, den) == (32, 18, 30, 1)
    assert len(got) == 4
    assert all((got[i] == frames[i]).all() for i in range(4))


def test_y4m_sampled_frame_indices_integer_exact():
    """Sampling is integer floor arithmetic: 10 fps sampled every
    200 ms hits even frames; every_ms below the frame period dedupes;
    non-integer fps (30000/1001 NTSC) still lands exact indices."""
    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        sampled_frame_indices,
    )

    assert sampled_frame_indices(7, 10, 1, 200) == [0, 2, 4, 6]
    assert sampled_frame_indices(3, 10, 1, 50) == [0, 1, 2]
    idxs = sampled_frame_indices(60, 30000, 1001, 1000)
    assert idxs[:3] == [0, 29, 59]  # 29.97 fps → ~every 30th frame


def test_y4m_malformed_inputs_error_not_hang():
    """Malformed streams raise targeted errors instead of hanging or
    scanning binary plane data: zero fps (would loop forever in
    sampled_frame_indices), garbage after the header (no FRAME
    marker), and a FRAME line with no newline in bounded range."""
    import numpy as np
    import pytest

    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        sampled_frame_indices,
        y4m_encode,
        y4m_parse,
    )

    with pytest.raises(ValueError, match="positive"):
        sampled_frame_indices(10, 0, 1, 100)
    with pytest.raises(ValueError, match="positive"):
        sampled_frame_indices(10, 10, 1, 0)
    with pytest.raises(ValueError, match="positive"):
        y4m_parse(b"YUV4MPEG2 W4 H4 F0:1 C420\n")
    with pytest.raises(ValueError, match="FRAME marker"):
        y4m_parse(b"YUV4MPEG2 W4 H4 F10:1 C420\nnotaframe\n" + b"\x00" * 24)
    good = y4m_encode(np.zeros((1, 4, 4), np.uint8), fps=(10, 1))
    nl = good.index(b"\n")
    # Keep header, then a FRAME marker with its newline stripped and
    # raw plane bytes after it — must error, not scan for a far newline.
    with pytest.raises(ValueError, match="unterminated FRAME"):
        y4m_parse(good[: nl + 1] + b"FRAME" + b"\x07" * 300)


def test_multimodal_real_y4m_decode_end_to_end(spark):
    """REAL video decode: known planes → Y4M bytes → distributed
    mapInPandas stats → exact dims, true timestamps, exact mean."""
    import numpy as np

    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        video_frame_stats,
        y4m_encode,
    )

    frames = np.stack([np.full((16, 20), v, np.uint8) for v in (10, 200, 30)])
    media = spark.createDataFrame(
        [(1, bytearray(y4m_encode(frames, fps=(10, 1))))],
        "media_id long, content binary",
    )
    rows = {r["frame_index"]: r.asDict() for r in video_frame_stats(media, every_ms=100).collect()}
    assert set(rows) == {0, 1, 2}
    for i, v in enumerate((10, 200, 30)):
        assert rows[i]["width"] == 20 and rows[i]["height"] == 16
        assert rows[i]["timestamp_ms"] == i * 100
        assert abs(rows[i]["mean_y"] - round(v / 255.0, 6)) < 1e-9


def test_multimodal_video_real_rejects_compressed(spark):
    """Non-Y4M payloads must name the ffmpeg boundary, not fake an
    answer — the honest-stub contract for compressed containers."""
    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        sample_video_frames,
        synth_media_table,
    )

    docs = spark.createDataFrame([(1, "not a video")], ["doc_id", "text"])
    media = synth_media_table(docs, "doc_id", "text")
    with pytest.raises(Exception, match="ffmpeg"):
        sample_video_frames(media, fake=False).collect()


def test_approx_queries_error_bounds_vs_exact_twins(spark):
    """The two approx registry queries are rows-only at the driver
    (t-digest / HLL internals are engine-specific), so their accuracy
    contract is asserted HERE against their exact oracle-checked twins
    (VERDICT r5 item 4): percentile_approx's rank error is <= 1/accuracy
    (default 10000 -> essentially exact on this data's value density),
    and approx_count_distinct's standard error is ~2.3% at the default
    rsd=0.05 HLL sizing -- 3 sigma < 10%."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    qs = all_queries()
    sf_dir = "/root/testdata/sf0.01"

    exact = {r["l_returnflag"]: r for r in qs["quantity_percentiles"](spark, sf_dir).collect()}
    approx = {r["l_returnflag"]: r for r in qs["quantity_percentiles_approx"](spark, sf_dir).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        # l_quantity is integer-valued 1..50: a <=1e-4 rank error can
        # move the estimate at most one value step.
        assert abs(a["p50_qty_approx"] - e["p50_qty"]) <= 1.0, flag
        # price spans ~[900, 105k]; allow 1% relative at p90
        assert abs(a["p90_price_approx"] - e["p90_price"]) / e["p90_price"] < 0.01, flag

    exact_d = {r["o_orderstatus"]: r for r in qs["order_status_distinct_customers"](spark, sf_dir).collect()}
    approx_d = {r["o_orderstatus"]: r for r in qs["order_status_distinct_customers_approx"](spark, sf_dir).collect()}
    assert set(exact_d) == set(approx_d)
    for st, e in exact_d.items():
        a = approx_d[st]
        assert a["n_orders"] == e["n_orders"], st  # exact column must agree
        rel = abs(a["n_customers_approx"] - e["n_customers"]) / max(e["n_customers"], 1)
        assert rel < 0.10, f"{st}: HLL off by {rel:.1%}"


def test_square_wav_rms_is_exact(spark):
    """The square-wave synth's decode chain is EXACT: every sample is
    +/-A, so RMS == A/32768 bit-for-bit (dyadic value, exact mean,
    exact sqrt) -- the invariant the audio decode oracle relies on.
    Equality here is ==, not approx."""
    from spark_streaming_kafka2elasticsearch_spark.operators.multimodal import (
        decode_audio_features,
        synth_wav_table,
    )

    ids = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])
    rows = decode_audio_features(
        synth_wav_table(ids, "doc_id", wave_kind="square"), fake=False
    ).collect()
    assert len(rows) == 12
    for r in rows:
        mid = r["media_id"]
        assert r["rms_energy"] == (3277 * (1 + mid % 8)) / 32768.0
        assert r["duration_ms"] == 50 + (mid * 17) % 200
        assert r["sample_rate"] == 16000


def test_grouped_agg_pandas_udf_matches_builtin_twin(spark):
    """weighted_avg_price_pandas crosses into Python as a GROUPED_AGG
    pandas UDF (AggregateInPandas plan node, no partial agg) and its
    exact-int arithmetic must agree with the decimal-exact built-in
    twin to the last bit of the final division."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    df = all_queries()["weighted_avg_price_pandas"](spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # Spark 4 names the node ArrowAggregatePython (AggregateInPandas
    # pre-4.0) — either way it's the no-partial-agg grouped Arrow node.
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    twin = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            (
                F.sum(
                    F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
                    * F.col("l_quantity").cast("long")
                ).cast("double")
                / (F.sum(F.col("l_quantity").cast("long")) * 100).cast("double")
            ).alias("wavg_price")
        )
    )
    got = {(r.l_returnflag, r.l_linestatus): r.wavg_price for r in df.collect()}
    want = {(r.l_returnflag, r.l_linestatus): r.wavg_price for r in twin.collect()}
    assert got == want


def test_sketch_rollup_estimates_within_hll_error(spark):
    """distinct_users_sketch_rollup is rows-only at the driver (HLL
    binary internals are engine-specific); its accuracy contract lives
    here: every per-type estimate and the ALL rollup must land within
    5% (3 sigma at lgK=12, se ~1.6%) of the exact distinct counts."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries, load_table
    from pyspark.sql import functions as F

    sf_dir = "/root/testdata/sf0.01"
    got = {
        r["event_type"]: r["approx_users"]
        for r in all_queries()["distinct_users_sketch_rollup"](spark, sf_dir).collect()
    }
    events = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = events.select("user_id").distinct().count()
    assert set(got) == set(exact)
    for et, e in exact.items():
        rel = abs(got[et] - e) / max(e, 1)
        assert rel < 0.05, f"{et}: HLL estimate off by {rel:.1%}"


def test_incremental_agg_merge_equals_full_recompute(spark):
    """Folding three daily deltas through incremental_agg_merge must
    equal the one-shot aggregate of all rows, bit-for-bit (decimal
    accumulation), and history must never appear in the refresh plan —
    the refresh reads only prev_agg + today's delta."""
    from spark_streaming_kafka2elasticsearch_spark.operators.merge import (
        incremental_agg_merge,
    )

    days = [
        [("a", 10.5, 1.0), ("b", 1.25, 2.0)],
        [("a", 0.25, 3.0), ("c", 7.0, 4.0)],
        [("b", 2.0, 5.0), ("a", 1.0, 6.0)],
    ]
    cols = ["k", "amount", "qty"]
    empty = spark.createDataFrame([], "k string, sum_amount decimal(28,10), sum_qty decimal(28,10), n_rows bigint")
    agg = empty
    for day in days:
        agg = incremental_agg_merge(
            agg, spark.createDataFrame(day, cols), ["k"], ["amount", "qty"]
        )
    got = {
        r["k"]: (float(r["sum_amount"]), float(r["sum_qty"]), r["n_rows"])
        for r in agg.collect()
    }
    full = spark.createDataFrame([r for d in days for r in d], cols)
    want = {
        r["k"]: (float(r["sum_amount"]), float(r["sum_qty"]), r["n_rows"])
        for r in incremental_agg_merge(
            empty, full, ["k"], ["amount", "qty"]
        ).collect()
    }
    assert got == want
    assert got["a"] == (11.75, 10.0, 3)


def test_gopher_quality_rules_on_handcrafted_docs(spark):
    """Each Gopher rule (Rae et al. 2021 §A1.1) trips on exactly the
    document built to violate it; the clean doc passes all five."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        gopher_quality,
    )

    good = "the cat sat off mat and dog ran " * 8  # 64 words, mwl 3.0
    docs = [
        (1, good),
        (2, "the of short doc"),  # 4 words -> word-count fail
        (3, "the of " + "a " * 60),  # mean word len (8+2+60)/62 < 3
        (4, "the of " + "seventeencharword " * 60),  # mean len > 10
        (5, good + "# # # # # # # # #"),  # 9 symbols / 73 words > 0.1
        (6, "the of " + "123 456 " * 30),  # alpha frac 2/62 < 0.8
        (7, "cat dog " * 30),  # zero required stop words
    ]
    out = {
        r["id"]: r
        for r in gopher_quality(
            spark.createDataFrame(docs, ["id", "text"]), "text"
        ).collect()
    }
    assert out[1]["keep"] == 1 and out[1]["n_words"] == 64
    assert out[1]["n_stop_words"] == 2  # the, and
    failing = {2: "flag_word_count", 3: "flag_mean_word_len",
               4: "flag_mean_word_len", 5: "flag_symbol_ratio",
               6: "flag_alpha_words", 7: "flag_stop_words"}
    for i, flag in failing.items():
        assert out[i][flag] == 0, (i, flag, dict(out[i].asDict()))
        assert out[i]["keep"] == 0
    # Raw metrics survive alongside the verdicts (threshold re-tuning).
    assert out[5]["symbol_word_ratio"] > 0.1
    assert abs(out[1]["mean_word_len"] - (24 / 8)) < 1e-12


def test_countmin_sketch_invariants(spark):
    """Count-Min contracts: (a) merging per-group sketches cell-wise
    equals the sketch built globally; (b) estimates never undercount;
    (c) with a collision-free width the estimate IS the exact count."""
    from spark_streaming_kafka2elasticsearch_spark.operators.sketches import (
        countmin_estimate,
        countmin_merge,
        countmin_sketch,
    )
    from pyspark.sql import functions as F

    rows = [(f"src{i % 3}", f"tok{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, ["source", "tok"])

    per_src = countmin_sketch(df, "tok", ["source"], depth=3, width=8)
    merged = countmin_merge(per_src)
    direct = countmin_sketch(df, "tok", depth=3, width=8)
    as_map = lambda sk: {
        (r["cm_row"], r["cm_bucket"]): r["cm_count"] for r in sk.collect()
    }
    assert as_map(merged) == as_map(direct)

    exact = df.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    est = countmin_estimate(exact.select("tok"), merged, "tok", depth=3, width=8)
    joined = {r["tok"]: (r["n"], r["cm_estimate"])
              for r in exact.join(est, "tok").collect()}
    assert len(joined) == 7
    assert all(cm >= n for n, cm in joined.values())

    wide = countmin_sketch(df, "tok", depth=3, width=1024)
    est_w = countmin_estimate(
        exact.select("tok"), wide, "tok", depth=3, width=1024
    )
    exact_map = {r["tok"]: r["n"] for r in exact.collect()}
    assert {r["tok"]: r["cm_estimate"] for r in est_w.collect()} == exact_map


def test_chunk_udtf_matches_catalyst_chunker_on_edges(spark):
    """The Python-UDTF chunker and the pure-Catalyst one must agree
    row-for-row on the edge cases: empty doc (dropped), short doc
    (one whole chunk), exact 32-token boundary (one chunk), 33 tokens
    (two chunks, 9-token tail)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        chunk_documents,
        chunk_documents_udtf,
    )

    docs = [
        (1, ""),
        (2, "only three tokens"),
        (3, " ".join(f"w{i}" for i in range(32))),
        (4, " ".join(f"w{i}" for i in range(33))),
        (5, " ".join(f"w{i}" for i in range(80))),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    canon = lambda out: sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_chunk_tokens"])
        for r in out.collect()
    )
    got_sql = canon(chunk_documents(df, "doc_id"))
    got_udtf = canon(chunk_documents_udtf(df, "doc_id"))
    assert got_sql == got_udtf
    by_doc = {}
    for d, c, _, _ in got_udtf:
        by_doc[d] = by_doc.get(d, 0) + 1
    assert by_doc == {2: 1, 3: 1, 4: 2, 5: 3}


def test_exact_substring_dup_spans_merge_semantics(spark):
    """Pin the Lee et al. suffix-window semantics: cross-doc repeats,
    WITHIN-doc repeats, interval merge of overlapping windows, the
    adjacency boundary (gap == window merges, gap == window+1 splits),
    and short-doc exclusion."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        exact_substring_dup_spans,
    )

    W = 3
    docs = [
        # docs 1+2 share the 4-token run "a b c d" -> windows "a b c"
        # (pos 2/1) and "b c d" (pos 3/2) both repeat; each doc merges
        # them into ONE span.
        (1, "u1 a b c d u2 u3"),
        (2, "a b c d v1 v2"),
        # doc 3: within-doc repeat of "z1 z2 z3" at pos 1 and 5 ->
        # gap 4 == W+1 -> TWO spans [1,3] and [5,7].
        (3, "z1 z2 z3 m z1 z2 z3"),
        # doc 4: within-doc repeat at pos 1 and 4 -> gap 3 == W ->
        # adjacent spans [1,3]+[4,6] merge into ONE [1,6].
        (4, "y1 y2 y3 y1 y2 y3"),
        # doc 5: shorter than the window -> contributes nothing even
        # though its whole text repeats doc 6's prefix.
        (5, "a b"),
        (6, "q1 q2 q3 q4"),  # no repeated windows -> no rows
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        (r.doc_id, r.span_start): r
        for r in exact_substring_dup_spans(
            df, id_col="doc_id", window=W, min_count=2
        ).collect()
    }
    assert set(out) == {(1, 2), (2, 1), (3, 1), (3, 5), (4, 1)}
    assert (out[(1, 2)].span_end, out[(1, 2)].n_windows) == (5, 2)
    assert (out[(2, 1)].span_end, out[(2, 1)].n_windows) == (4, 2)
    assert (out[(3, 1)].span_end, out[(3, 5)].span_end) == (3, 7)
    # doc 4: positions 1..4 all duplicated ("y1 y2 y3" twice, and the
    # wrap windows "y2 y3 y1"/"y3 y1 y2" only once each -> only pos 1
    # and 4 survive the census; they merge at the gap==W boundary.
    assert (out[(4, 1)].span_end, out[(4, 1)].span_tokens, out[(4, 1)].n_windows) == (6, 6, 2)
    for r in out.values():
        assert r.span_tokens == r.span_end - r.span_start + 1


def test_exact_substring_dedup_corpus_rewrite(spark):
    """Pin the applied rewrite: canonical (min doc_id,pos) occurrence
    survives, later occurrences are deleted, removal is the per-token
    UNION of removed ranges, short docs pass through normalized, and
    the output stays corpus-complete."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        exact_substring_dedup_corpus,
    )

    W = 3
    docs = [
        (1, "u1 a b c d u2 u3"),          # canonical holder of "a b c"/"b c d"
        (2, "a b c d v1 v2"),             # both windows repeat doc 1 -> deleted
        (3, "z1  z2\tz3"),                # short doc: whitespace normalized only
        (4, "y1 y2 y3 y1 y2 y3"),         # tandem repeat: pos-4 occurrence deleted
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in exact_substring_dedup_corpus(
            df, id_col="doc_id", window=W, min_count=2
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    # doc 1 holds the canonical occurrences -> untouched
    assert out[1].cleaned_text == "u1 a b c d u2 u3"
    assert (out[1].n_tokens, out[1].n_tokens_removed) == (7, 0)
    # doc 2: windows at pos 1 ("a b c") and 2 ("b c d") both deleted ->
    # token union [1,4] removed
    assert out[2].cleaned_text == "v1 v2"
    assert (out[2].n_tokens_kept, out[2].n_tokens_removed) == (2, 4)
    # doc 3: shorter than the window -> normalized passthrough
    assert out[3].cleaned_text == "z1 z2 z3"
    assert out[3].n_tokens_removed == 0
    # doc 4: within-doc repeat, pos-1 occurrence canonical, pos-4 deleted
    assert out[4].cleaned_text == "y1 y2 y3"
    assert (out[4].n_tokens_kept, out[4].n_tokens_removed) == (3, 3)


def test_logistic_quality_scores_semantics(spark):
    """The learned-model gate: logit = bias + w·(counts/n), keep at
    the p ≥ 0.5 boundary (logit ≥ 0), zero-token docs score exactly
    the bias.  Weights chosen so each doc's bucket is known (md5 of
    the token decides the bucket — recomputed here, not assumed)."""
    import hashlib

    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        logistic_quality_scores,
    )

    def bucket(tok: str, dim: int = 4) -> int:
        return "0123456789abcdef".index(hashlib.md5(tok.encode()).hexdigest()[0]) % dim

    # one-token docs: the feature vector is a one-hot on the token's
    # bucket (count 1 / n_tokens 1), so logit = bias + w[bucket]
    weights = [-1.0, 0.5, 2.0, -0.25]
    bias = 0.1
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "bravo"), (3, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["logit"], r["keep"])
        for r in logistic_quality_scores(
            docs, weights, bias, id_col="doc_id"
        ).collect()
    }
    assert got[1] == (bias + weights[bucket("alpha")], bias + weights[bucket("alpha")] >= 0)
    assert got[2] == (bias + weights[bucket("bravo")], bias + weights[bucket("bravo")] >= 0)
    assert got[3] == (bias, True)  # empty doc: all-zero features


def test_pair_operators_materialize_flag_keeps_plan_lazy(spark):
    """ADVICE r7: every pair/graph operator that eagerly
    localCheckpoints at construction must offer materialize=False for
    lazy composition — the returned plan is the live operator tree
    (joins visible), not a collapsed checkpoint scan."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        simhash_near_dup_pairs,
        triangle_counts,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        srp_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w q")],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "id_a long, id_b long")
    lazies = [
        minhash_lsh_candidate_pairs(docs, "doc_id", materialize=False),
        simhash_near_dup_pairs(docs, "doc_id", materialize=False),
        srp_near_dup_pairs(
            emb, dim=2, planes_per_table=2, materialize=False
        ),
        triangle_counts(edges, materialize=False),
    ]
    for lazy in lazies:
        plan = lazy._jdf.queryExecution().executedPlan().toString()
        assert "Join" in plan, plan
    # and the lazy results still compute correctly when acted on
    assert {tuple(r) for r in lazies[3].collect()} == {(1, 1), (2, 1), (3, 1)}
    spark.catalog.clearCache()


def test_canonical_url_rules(spark):
    """Each canonicalization rule on handcrafted variants: case,
    default ports (stripped) vs real ports (kept), fragments,
    tracking params, param order, trailing slashes."""
    from spark_streaming_kafka2elasticsearch_spark.functions.text import canonical_url

    variants_same = [
        "https://www.example.com/a/b?x=1&y=2",
        "HTTPS://WWW.Example.COM/a/b?y=2&x=1",
        "https://www.example.com:443/a/b/?x=1&y=2#frag",
        "https://www.example.com/a/b?utm_source=s&x=1&utm_campaign=c&y=2&fbclid=z",
    ]
    distinct = [
        "https://www.example.com:8443/a/b?x=1&y=2",  # non-default port kept
        "http://www.example.com/a/b?x=1&y=2",        # scheme differs
        "https://www.example.com/a/b?x=2&y=2",       # param value differs
        "https://www.example.com/a/b",               # no query at all
        "http://www.example.com:443/a/b?x=1&y=2",    # :443 NOT default for http
        "https://www.example.com:80/a/b?x=1&y=2",    # :80 NOT default for https
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(variants_same + distinct)], "i long, u string"
    )
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url("u").alias("c")).collect()}
    canon = got[0]
    assert canon == "https://www.example.com/a/b?x=1&y=2"
    assert all(got[i] == canon for i in range(len(variants_same))), got
    vals = [got[len(variants_same) + j] for j in range(len(distinct))]
    assert canon not in vals and len(set(vals)) == len(vals), vals
    assert got[len(variants_same)] == "https://www.example.com:8443/a/b?x=1&y=2"
    assert got[len(variants_same) + 3] == "https://www.example.com/a/b"
    # port stripping is scheme-conditional: a cross-scheme "default"
    # port names a distinct resource and must survive
    assert got[len(variants_same) + 4] == "http://www.example.com:443/a/b?x=1&y=2"
    assert got[len(variants_same) + 5] == "https://www.example.com:80/a/b?x=1&y=2"


def test_winnowing_guarantee_and_density(spark):
    """The two defining properties of winnowing (Schleimer et al.):
    (1) LOCAL GUARANTEE — two documents sharing a substring of at
    least window+k-1 tokens (here 4+3-1 = 6) share at least one
    selected fingerprint, wherever the substring lands; (2) the
    selection is sparse (well under all k-grams) yet never empty for
    docs with >= k tokens."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    shared = "alpha bravo charlie delta echo foxtrot"  # 6 tokens
    rows = [
        (1, f"one two three {shared} four five six"),
        (2, f"{shared} seven eight nine ten eleven twelve"),
        (3, "completely different words with no overlap at all here"),
        (4, "tiny doc"),  # 2 tokens < k: emits nothing
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = winnowing_fingerprints(df, id_col="doc_id", k=3, window=4).collect()
    fps: dict[int, set] = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[1] & fps[2], "guaranteed shared fingerprint missing"
    assert not (fps[1] & fps.get(3, set()))
    assert 4 not in fps
    # density: selected unique positions strictly fewer than all k-grams,
    # and every doc with >= k tokens has >= 1 fingerprint
    n_kgrams_1 = len(rows[0][1].split()) - 2
    assert 1 <= len({(r["fingerprint"], r["fp_pos"]) for r in out if r["doc_id"] == 1}) < n_kgrams_1


def test_winnowing_overlap_pairs(spark):
    """Pair semantics over the fingerprint index: exact dups reach
    containment 1.0; a doc quoting a long span of another is caught
    with containment measured against the SMALLER set; disjoint docs
    never pair; a corpus-wide stop-fingerprint (df-cap) drops a
    boilerplate-only pairing."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        winnowing_overlap_pairs,
    )

    quoted = "lorem ipsum dolor sit amet consectetur adipiscing elit sed"
    boiler = "terms of service apply to all content hosted on this website"
    rows = [
        (1, f"{quoted} unique alpha beta gamma delta epsilon zeta eta"),
        (2, f"intro words then {quoted}"),  # quotes all of doc 1's span
        (3, f"{quoted} unique alpha beta gamma delta epsilon zeta eta"),  # exact dup of 1
        (4, "nothing in common with anything else at all whatsoever truly"),
        (5, f"{boiler} plus own content one two three four five"),
        (6, f"{boiler} plus different content six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r
        for r in winnowing_overlap_pairs(
            df, id_col="doc_id", min_shared=2
        ).collect()
    }
    assert out[(1, 3)]["containment"] == 1.0  # exact dup
    assert (1, 2) in out and out[(1, 2)]["containment"] >= 0.5  # quote
    assert not any(4 in pair for pair in out)
    # boilerplate pair exists at default cap; at max_doc_freq=2 the
    # quoted span (df=3) is stop-capped away, killing (1,2), while
    # df<=2 fingerprints survive: (5,6) via boiler, (1,3) via their
    # shared unique tail — the cap must hit counts and sizes together
    assert (5, 6) in out
    capped = {
        (r["id_a"], r["id_b"])
        for r in winnowing_overlap_pairs(
            df, id_col="doc_id", min_shared=2, max_doc_freq=2
        ).collect()
    }
    assert (1, 2) not in capped
    assert (5, 6) in capped and (1, 3) in capped


def test_bm25_ranks_rare_term_matches_first(spark):
    """BM25 semantics on a planted corpus: the query's RARE term must
    dominate (idf), term saturation must hold (tf repetition gains
    sub-linearly), and longer docs are penalized at equal tf (the b
    length normalization)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "zebra common common"),          # rare term once, short
            (2, "zebra zebra common filler filler filler"),  # rare twice, longer
            (3, "common common common"),          # no rare term
            (4, "common filler words here"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(100, "zebra common")], "doc_id long, text string")
    rows = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(docs, q).collect()
    }
    # docs with the rare term beat docs without it
    assert rows[1] > rows[3] and rows[2] > rows[3]
    # everyone containing a query term scores
    assert set(rows) == {1, 2, 3, 4}
    # idf of 'zebra' (df=2) > idf of 'common' (df=4): a zebra doc
    # outranks the all-common doc even though doc 3 has tf=3 on common
    assert min(rows[1], rows[2]) > rows[3]


def test_hybrid_rrf_fuses_one_sided_hits(spark):
    """RRF contract pins: a doc surfaced by only ONE leg still enters
    the fused ranking with one reciprocal term; a doc surfaced by both
    legs gets both terms (and so beats an equal-rank one-sided doc);
    the fused score is exactly 1/(60+rb) + 1/(60+rv)."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    rows = all_queries()["hybrid_rrf_topk"](
        spark.builder.getOrCreate(), "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        s = r["rrf_score"]
        # every score decomposes into at most two reciprocal terms
        # with ranks 1..20 — enumerate the possible values
        singles = {1.0 / (60.0 + k) for k in range(1, 21)}
        doubles = {
            a + b for a in singles for b in singles
        }
        assert s in singles | doubles, s
    # per query: <= 10 rows, rank contiguous from 1
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["query_doc_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_weighted_reservoir_sample_prefers_heavy_weights(spark):
    """A-Res semantics: exact size k per stratum, and a 100x weight
    class must dominate the sample (P[heavy key > light key] =
    w_h/(w_h + w_l) ~ 0.99 per pair, so >= 15/20 heavy picks has
    overwhelming probability under the deterministic draws)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
        weighted_reservoir_sample,
    )

    rows = [(i, "en", 100.0 if i < 50 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w double")
    got = weighted_reservoir_sample(
        df, weight=F.col("w"), k=20, strata=["lang"]
    ).collect()
    assert len(got) == 20
    assert len({r["doc_id"] for r in got}) == 20  # without replacement
    assert sorted(r["rank"] for r in got) == list(range(1, 21))
    heavy = sum(1 for r in got if r["doc_id"] < 50)
    assert heavy >= 15, heavy
    # deterministic: a second run picks the identical sample
    again = weighted_reservoir_sample(
        df, weight=F.col("w"), k=20, strata=["lang"]
    ).collect()
    assert {(r["doc_id"], r["rank"]) for r in got} == {
        (r["doc_id"], r["rank"]) for r in again
    }


# ---------------------------------------------------------------------------
# round 11: kNN graph, interval joins, Kneser-Ney
# ---------------------------------------------------------------------------

from tests.conftest import SF_DIR


def test_knn_graph_mutual_flag_and_rank_bounds(spark):
    """knn_graph: ranks are 1..k per node, the mutual flag is exactly
    'the reversed edge exists', and mutuality is symmetric."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import knn_graph

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    rows = knn_graph(emb, cents, k=5, n_probe=2).collect()
    edges = {(r["src"], r["dst"]) for r in rows}
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r["src"], []).append(r["rank"])
        assert r["src"] != r["dst"]
        # the mutual flag IS reverse-edge existence
        assert r["mutual"] == ((r["dst"], r["src"]) in edges)
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), src
        assert len(ranks) <= 5
    # mutuality is symmetric: if (u,v) is mutual, (v,u) exists and is mutual
    mutual = {(r["src"], r["dst"]) for r in rows if r["mutual"]}
    assert all((v, u) in mutual for (u, v) in mutual)


def test_knn_graph_matches_brute_force_within_probed_cells(spark):
    """Within one node's probed candidate set, knn_graph's ranking is
    the exact cosine top-k (no approximation beyond the probe)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        _fixed_cell_expr,
        _fixed_probe_cells_expr,
        knn_graph,
    )
    from spark_streaming_kafka2elasticsearch_spark.functions.vectors import (
        cosine_similarity,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    crows = cents.orderBy("centroid_id").collect()
    got = {
        r["rank"]: r["dst"]
        for r in knn_graph(emb, cents, k=5, n_probe=2).collect()
        if r["src"] == 0
    }
    probe = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.explode(_fixed_probe_cells_expr(crows, "embedding", 2)).alias("c"))
        .collect()
    )
    probed = {r["c"] for r in probe}
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cand = (
        emb.withColumn("cell", _fixed_cell_expr(crows, "embedding"))
        .filter(F.col("cell").isin(probed) & (F.col("vec_id") != 0))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine_similarity(F.col("qv"), F.col("embedding")).alias("sim"),
        )
        .collect()
    )
    want = [
        r["vec_id"]
        for r in sorted(cand, key=lambda r: (-r["sim"], r["vec_id"]))[:5]
    ]
    assert [got[i] for i in sorted(got)] == want


def test_purchase_activity_context_equals_naive_range_join(spark):
    """The binned range join (3-bucket explode + exact filter) equals
    the naive cartesian-with-filter on a scale where naive is runnable."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    got = {
        r["purchase_id"]: (r["n_nearby"], r["n_nearby_users"])
        for r in all_queries()["purchase_activity_context"](
            spark, SF_DIR
        ).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("pu"),
        F.unix_micros("ts").alias("p_us"),
    )
    e = ev.select(
        F.col("event_id").alias("eid"),
        F.col("user_id").alias("eu"),
        F.unix_micros("ts").alias("e_us"),
    )
    naive = (
        p.crossJoin(e)
        .filter(
            (F.col("eu") != F.col("pu"))
            & (F.abs(F.col("e_us") - F.col("p_us")) <= 60_000_000)
        )
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("eu").alias("u"),
        )
        .collect()
    )
    naive_map = {r["pid"]: (r["n"], r["u"]) for r in naive}
    for pid, (n, u) in got.items():
        assert naive_map.get(pid, (0, 0)) == (n, u), pid
    assert set(naive_map) <= set(got)


def test_click_purchase_attribution_window_bounds(spark):
    """Every attributed click is strictly before its purchase and at
    most 30 minutes old; secs_before is consistent with the bound."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    rows = all_queries()["click_purchase_attribution"](spark, SF_DIR).collect()
    assert rows, "sf0.001 should produce at least one attribution pair"
    for r in rows:
        assert 0 <= r["secs_before"] <= 1800


def test_kneser_ney_probabilities_and_counts(spark):
    """KN probabilities are in (0, 1); recomputing the formula from the
    raw count tables reproduces every emitted value."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries
    from spark_streaming_kafka2elasticsearch_spark.functions.text import tokens

    rows = all_queries()["kneser_ney_bigram_scores"](spark, SF_DIR).collect()
    assert rows
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = [r["t"] for r in docs.select(tokens(F.col("text")).alias("t")).collect()]
    from collections import Counter

    c2: Counter = Counter()
    for t in toks:
        for a, b in zip(t, t[1:]):
            c2[(a, b)] += 1
    c1: Counter = Counter()
    n1f: Counter = Counter()
    n1b: Counter = Counter()
    for (a, b), n in c2.items():
        c1[a] += n
        n1f[a] += 1
        n1b[b] += 1
    n_types = float(len(c2))
    for r in rows:
        assert 0.0 < r["kn_prob"] < 1.0, r
        assert c2[(r["w1"], r["w2"])] == r["c2"] >= 5
        want = (r["c2"] - 0.75) / float(c1[r["w1"]]) + (
            0.75 * n1f[r["w1"]] / float(c1[r["w1"]])
        ) * (n1b[r["w2"]] / n_types)
        assert abs(r["kn_prob"] - want) < 1e-9, (r, want)


def test_mmr_rerank_greedy_invariants(spark):
    """MMR: rank 1 is the exact relevance top-1; selections are
    distinct; from step 2 on the objective is non-increasing (each
    candidate's penalty only grows as the selected set grows); and a
    pure-Python greedy over exact cosines reproduces the selection."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    got = mmr_rerank(emb, queries, k=5, pool=10, lam=0.5).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in brute_force_topk(emb, queries, k=1).collect()
    }
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
        assert len({r["doc_id"] for r in rows}) == 5
        assert rows[0]["doc_id"] == top1[qid]
        tail = [r["mmr_score"] for r in rows[1:]]
        assert all(a >= b for a, b in zip(tail, tail[1:])), rows

    # independent greedy replay from exact shortlist sims
    pool = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}

    def cos(u, v):
        dot = nu = nv = 0.0
        for x, y in zip(u, v):
            dot += x * y
            nu += x * x
            nv += y * y
        return dot / ((nu ** 0.5) * (nv ** 0.5))

    for qid, rows in by_q.items():
        cand = sorted(d for (q, d) in pool if q == qid)
        taken = []
        for step in range(1, 6):
            best = None
            for d in cand:
                if d in taken:
                    continue
                if step == 1:
                    score = pool[(qid, d)]
                else:
                    maxs = max(cos(vecs[d], vecs[t]) for t in taken)
                    score = 0.5 * pool[(qid, d)] - 0.5 * maxs
                key = (-score, d)
                if best is None or key < best:
                    best = key
            taken.append(best[1])
        assert [r["doc_id"] for r in rows] == taken, qid


def test_query_likelihood_scores_match_python_model(spark):
    """QL retrieval: recompute the full Dirichlet-smoothed LM score
    (including unmatched-term mass) in pure Python and verify the
    decomposed matched+constant form emitted by the operator."""
    import math
    from collections import Counter

    from spark_streaming_kafka2elasticsearch_spark.functions.text import tokens
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        query_likelihood_scores,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = {
        r["doc_id"]: r["t"]
        for r in docs.select("doc_id", tokens(F.col("text")).alias("t")).collect()
    }
    cf: Counter = Counter()
    for t in toks.values():
        cf.update(t)
    total = float(sum(cf.values()))
    mu = 2000.0

    got = {
        (r["query_doc_id"], r["doc_id"]): r["score"]
        for r in query_likelihood_scores(
            docs, docs.filter(F.col("doc_id") < 3)
        ).collect()
    }
    assert got
    for (qid, did), score in got.items():
        q = toks[qid]
        d = Counter(toks[did])
        dl = float(len(toks[did]))
        # direct (non-decomposed) QL score, shifted by the
        # document-INDEPENDENT query constant Σ_{t∈q} ln P(t|C) that
        # the standard rank-equivalent form drops
        full = sum(
            math.log((d.get(t, 0) + mu * cf[t] / total) / (dl + mu)) for t in q
        )
        shift = sum(math.log(cf[t] / total) for t in q)
        want = full - shift
        assert abs(score - want) < 1e-6, ((qid, did), score, want)
    # docs sharing no term are absent (candidate-from-postings)
    for (qid, did) in got:
        assert set(toks[qid]) & set(toks[did])


def test_mutual_knn_components_are_valid_partition(spark):
    """Mutual-kNN CC: every vector gets exactly one component; the
    component id is the min vec_id of its member set; mutual edges
    never cross components."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    comp = {
        r["vec_id"]: r["component"]
        for r in all_queries()["mutual_knn_components"](spark, SF_DIR).collect()
    }
    emb_ids = {
        r["vec_id"]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id")
        .collect()
    }
    assert set(comp) == emb_ids
    groups: dict = {}
    for v, c in comp.items():
        groups.setdefault(c, set()).add(v)
    for c, members in groups.items():
        assert c == min(members)

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_graph,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    # r12: the registered query rides the NN-Descent graph; the edge
    # consistency check must use the SAME graph (same build params)
    g = nn_descent_graph(
        emb, k=5, k_build=30, dim=64, rounds=3, occupancy=32, ring=2
    )
    for r in g.collect():
        if r["mutual"]:
            assert comp[r["src"]] == comp[r["dst"]]


def test_attribution_outer_twin_supersets_inner(spark):
    """Left-outer attribution: the inner pair set is preserved, and
    every extra row is a purchase with NULL click columns that has no
    inner match at all."""
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    qs = all_queries()
    inner = {
        (r["purchase_id"], r["click_id"])
        for r in qs["click_purchase_attribution"](spark, SF_DIR).collect()
    }
    outer_rows = qs["click_purchase_attribution_outer"](spark, SF_DIR).collect()
    outer = {(r["purchase_id"], r["click_id"]) for r in outer_rows}
    assert inner <= outer
    matched = {p for (p, c) in inner}
    for r in outer_rows:
        if r["click_id"] is None:
            assert r["secs_before"] is None
            assert r["purchase_id"] not in matched
    # every purchase appears at least once
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_purch = ev.filter(F.col("event_type") == "purchase").count()
    assert len({p for (p, c) in outer}) == n_purch

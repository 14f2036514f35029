"""Property-based invariants (hypothesis) for layout and training-prep
kernels — randomized inputs, model-checked outputs, one Spark job per
example batch.

These complement the fixed-fixture tests: the properties here are the
contracts the docstrings promise for ALL inputs (monotonicity,
bijectivity, error bounds), not just the driver corpus.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.functions.zorder import zorder_key

BITS = 8
DOM = 1 << BITS

pairs_dominated = st.lists(
    st.tuples(
        st.integers(0, DOM - 1),
        st.integers(0, DOM - 1),
        st.integers(0, DOM - 1),
        st.integers(0, DOM - 1),
    ).map(lambda t: (min(t[0], t[2]), min(t[1], t[3]), max(t[0], t[2]), max(t[1], t[3]))),
    min_size=1,
    max_size=64,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(pairs_dominated)
def test_zorder_key_monotone_under_dominance(spark, quads):
    """If a1 <= a2 AND b1 <= b2 then morton(a1,b1) <= morton(a2,b2):
    componentwise dominance never reorders the Z-curve.  This is the
    property that makes min/max footer stats prune on EITHER dimension
    — a file's key range bounds each dimension's bit range."""
    df = spark.createDataFrame(quads, ["a1", "b1", "a2", "b2"])
    out = df.select(
        zorder_key("a1", "b1", bits=BITS).alias("k1"),
        zorder_key("a2", "b2", bits=BITS).alias("k2"),
    ).collect()
    assert all(r["k1"] <= r["k2"] for r in out)


def test_zorder_key_bijective_on_domain(spark):
    """Every (a, b) in [0, 32)^2 maps to a distinct key and the key
    unpacks back to (a, b) — the interleave loses nothing."""
    n = 32
    rows = [(a, b) for a in range(n) for b in range(n)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = df.select("a", "b", zorder_key("a", "b", bits=BITS).alias("k")).collect()
    assert len({r["k"] for r in out}) == n * n

    def unpack(k: int) -> tuple[int, int]:
        a = b = 0
        for i in range(BITS):
            a |= ((k >> (2 * i)) & 1) << i
            b |= ((k >> (2 * i + 1)) & 1) << i
        return a, b

    assert all(unpack(r["k"]) == (r["a"], r["b"]) for r in out)


vectors = st.lists(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
            width=64,
        ),
        min_size=1,
        max_size=16,
    ),
    min_size=1,
    max_size=16,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vectors)
def test_int8_quantization_error_bound(spark, vecs):
    """Symmetric int8 quantization (the embedding_int8_quantized
    kernel, applied to arbitrary finite vectors): every quantized
    component stays in [-127, 127] and dequantization lands within
    half a quantization step of the input (plus float slack)."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], ["vec_id", "v"])
    v = F.col("v")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scaled = df.select("vec_id", "v", (amax / F.lit(127.0)).alias("scale"))
    q = F.when(
        F.col("scale") == 0, F.transform(F.col("v"), lambda x: F.lit(0))
    ).otherwise(
        F.transform(F.col("v"), lambda x: F.round(x / F.col("scale")).cast("int"))
    )
    out = scaled.select("v", "scale", q.alias("q")).collect()
    for r in out:
        scale = r["scale"]
        assert all(abs(qc) <= 127 for qc in r["q"])
        if scale == 0:
            # amax/127 underflows to exactly 0.0 for subnormal-tiny
            # inputs (hypothesis found [5e-324]), not only for the
            # all-zero vector.  The kernel's scale==0 guard maps BOTH
            # to q=0 — which is also what keeps the x/scale division
            # from producing Inf → int-cast overflow — so the contract
            # here is: quantized all-zero, and the inputs were at most
            # the underflow threshold (127 · 2^-1075 < 1.6e-321).
            assert all(qc == 0 for qc in r["q"])
            assert all(abs(x) < 1.6e-321 for x in r["v"])
            continue
        slack = scale * (0.5 + 1e-9)
        for x, qc in zip(r["v"], r["q"]):
            assert abs(qc * scale - x) <= slack


batches = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d", "e"]),  # key
            st.integers(0, 100),  # value
            st.booleans(),  # delete flag
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches)
def test_merge_upsert_matches_dict_model(spark, seq):
    """ANSI-MERGE semantics against the obvious model: apply random
    upsert/delete batches one at a time through merge_upsert and in a
    plain dict (last row per key within a batch wins, delete removes);
    the table must equal the dict after every fold."""
    from spark_streaming_kafka2elasticsearch_spark.operators.merge import merge_upsert

    # the delete flag lives only on the update side; merge_upsert
    # drops it from the output, so the base table never carries it
    base = spark.createDataFrame([], "k string, v bigint")
    model: dict[str, int] = {}
    for batch in seq:
        # merge_upsert requires unique keys per batch: keep the LAST
        # occurrence, which is also what the model does.
        last = {k: (k, v, d) for k, v, d in batch}
        rows = list(last.values())
        for k, v, d in rows:
            if d:
                model.pop(k, None)
            else:
                model[k] = v
        updates = spark.createDataFrame(rows, "k string, v bigint, is_delete boolean")
        base = merge_upsert(base, updates, keys=["k"], delete_col="is_delete")
    got = {r["k"]: r["v"] for r in base.collect()}
    assert got == model


# ---------------------------------------------------------------------------
# Count-Min sketch: estimates dominate truth; splits merge associatively
# ---------------------------------------------------------------------------

token_lists = st.lists(
    st.sampled_from([f"t{i}" for i in range(12)]), min_size=1, max_size=60
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(token_lists, st.integers(min_value=1, max_value=59))
def test_countmin_never_undercounts_and_merges(spark, toks, cut):
    """For ANY multiset and ANY two-way split: (a) the merged split
    sketches equal the one-shot sketch cell-for-cell; (b) every
    estimate ≥ the true count (Count-Min's one-sided error)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.sketches import (
        countmin_estimate,
        countmin_merge,
        countmin_sketch,
    )

    cut = min(cut, len(toks))
    df = spark.createDataFrame([(t,) for t in toks], ["tok"])
    a = spark.createDataFrame([(t,) for t in toks[:cut]] or [("_",)], ["tok"])
    b_rows = [(t,) for t in toks[cut:]]
    one_shot = countmin_sketch(df, "tok", depth=2, width=4)
    parts = [countmin_sketch(a, "tok", depth=2, width=4)]
    if b_rows:
        parts.append(
            countmin_sketch(
                spark.createDataFrame(b_rows, ["tok"]), "tok", depth=2, width=4
            )
        )
    merged = countmin_merge(parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1]))
    cells = lambda sk: {
        (r["cm_row"], r["cm_bucket"]): r["cm_count"] for r in sk.collect()
    }
    if cut == len(toks):
        assert cells(merged) == cells(countmin_merge(parts[0]))
    else:
        assert cells(merged) == cells(one_shot)

    exact = df.groupBy("tok").count()
    est = countmin_estimate(
        exact.select("tok"), one_shot, "tok", depth=2, width=4
    )
    got = {
        r["tok"]: (r["count"], r["cm_estimate"])
        for r in exact.join(est, "tok").collect()
    }
    assert all(cm >= n for n, cm in got.values())


doc_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("ab cd efg hi jkl mn"),
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(doc_texts)
def test_logistic_scores_match_python_model(spark, texts):
    """The JVM-side logistic gate against an independent pure-Python
    re-derivation (md5 bucketing, token frequencies, dot, bias) on
    arbitrary whitespace-soup texts — exact equality, the same bar the
    DuckDB oracle holds on real data.  The Python model accumulates in
    the identical left-fold order, so floats must agree bit-for-bit."""
    import hashlib

    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        logistic_quality_scores,
    )

    weights = [((i * 7) % 5 - 2) / 4.0 for i in range(8)]
    bias = -0.125

    def py_model(text: str) -> float:
        counts = [0] * 8
        toks = [t for t in text.split() if t]
        for t in toks:
            nib = "0123456789abcdef".index(
                hashlib.md5(t.encode()).hexdigest()[0]
            )
            counts[nib % 8] += 1
        dot = 0.0
        for c, w in zip(counts, weights):
            dot = dot + float(c) * w
        return bias + dot / float(max(len(toks), 1))

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["logit"], r["keep"])
        for r in logistic_quality_scores(
            docs, weights, bias, id_col="doc_id"
        ).collect()
    }
    for i, text in enumerate(texts):
        expect = py_model(text)
        assert got[i] == (expect, expect >= 0.0), (i, text, got[i], expect)


near_dup_corpora = st.lists(
    st.tuples(
        st.sampled_from(["x", "y"]),
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=7),
        st.booleans(),
    ),
    min_size=2,
    max_size=8,
)


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    near_dup_corpora,
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=7),
    st.sampled_from([0.1, 0.3, 0.6]),
)
def test_near_dup_pairs_match_python_set_jaccard(spark, drawn, shared, t):
    """The near-dup family against a pure-Python set Jaccard over the
    same k=3 shingles, on small two-block corpora with empty texts and
    documents shorter than k.  The blocked, prefix-filtered and
    delta-vs-corpus pairs are each exactly the same-block pairs at
    Jaccard ≥ ``t``; every MinHash candidate (unblocked) carries the
    exact value of its pair.  About 30 s with a warm session.  The
    ``shared`` text is in both blocks, once in the delta and once in the
    corpus, so a pair join that lost the block key would pair across
    blocks and fail."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        blocked_ngram_jaccard_pairs,
        delta_corpus_jaccard_pairs,
        minhash_lsh_candidate_pairs,
        prefix_filter_jaccard_pairs,
    )

    k = 3
    drawn = [*drawn, ("x", shared, True), ("y", shared, False)]
    rows = [(i, b, " ".join(w)) for i, (b, w, _) in enumerate(drawn)]
    delta_ids = {i for i, (_, _, d) in enumerate(drawn) if d}

    def shingle_set(text: str) -> set[str]:
        toks = text.split()
        if len(toks) < k:
            return {" ".join(toks)} if toks else set()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sets = {i: shingle_set(text) for i, _, text in rows}
    lang = {i: b for i, b, _ in rows}

    def jaccard(i: int, j: int) -> float:
        inter = len(sets[i] & sets[j])
        return inter / len(sets[i] | sets[j]) if inter else 0.0

    def want(pairs) -> dict:
        return {
            (i, j): jaccard(i, j)
            for i, j in pairs
            if lang[i] == lang[j] and jaccard(i, j) >= t
        }

    ids = sorted(sets)
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = lambda df, a, b: {(r[a], r[b]): r["jaccard"] for r in df.collect()}
    self_pairs = want((i, j) for i in ids for j in ids if i < j)
    assert got(
        blocked_ngram_jaccard_pairs(
            docs, "doc_id", ["lang"], k_shingle=k, min_jaccard=t, max_doc_freq=None
        ),
        "id_a",
        "id_b",
    ) == self_pairs
    assert got(
        prefix_filter_jaccard_pairs(
            docs, "doc_id", ["lang"], k_shingle=k, min_jaccard=t
        ),
        "id_a",
        "id_b",
    ) == self_pairs
    is_delta = F.col("doc_id").isin(sorted(delta_ids))
    assert got(
        delta_corpus_jaccard_pairs(
            docs.filter(is_delta),
            docs.filter(~is_delta),
            "doc_id",
            ["lang"],
            k_shingle=k,
            min_jaccard=t,
            max_doc_freq=None,
        ),
        "delta_id",
        "corpus_id",
    ) == want((i, j) for i in delta_ids for j in ids if j not in delta_ids)
    candidates = got(
        # 2-row bands: a loose filter, so most overlapping pairs are checked
        minhash_lsh_candidate_pairs(docs, "doc_id", k_shingle=k, num_hashes=8, bands=4),
        "id_a",
        "id_b",
    )
    assert candidates == {p: jaccard(*p) for p in candidates}
    assert all(v > 0 for v in candidates.values())

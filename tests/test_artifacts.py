"""At-rest quantizer artifacts (VERDICT r10 item 1).

The contract under test: an ANN index directory is the COMPLETE unit
of deployment — trained coarse centroids, PQ codebooks, and SQ8 grids
are persisted under ``<index>/_quantizer/`` at build time, and a
FRESH serving session (no process-memory cache) answers queries
byte-identically from the at-rest artifacts without retraining.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _queries(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )


def _cents(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------------------
# artifact store primitives
# ---------------------------------------------------------------------------


def test_artifact_roundtrip_and_fingerprint_staleness(tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        load_centroids,
        load_pq_codebooks,
        load_sq8_minmax,
        save_centroids,
        save_pq_codebooks,
        save_sq8_minmax,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        data_fingerprint,
    )

    src = tmp_path / "corpus.parquet"
    src.write_bytes(b"x" * 128)
    fp = data_fingerprint(str(src))
    idx = str(tmp_path / "index")

    crows = [(0, [1.0, 2.0]), (1, [3.0, 4.5])]
    books = [(0, 0, [0.5, -0.5]), (0, 1, [1.5, 2.5]), (1, 0, [0.0, 9.0])]
    mm = [(-1.0, 1.0), (0.0, 2.5)]
    save_centroids(idx, crows, fingerprint=fp)
    save_pq_codebooks(idx, books, fingerprint=fp)
    save_sq8_minmax(idx, mm, fingerprint=fp)

    assert load_centroids(idx, expected_fingerprint=fp) == crows
    assert load_pq_codebooks(idx, expected_fingerprint=fp) == books
    assert load_sq8_minmax(idx, expected_fingerprint=fp) == mm
    # no expectation -> loads whatever is there
    assert load_centroids(idx) == crows
    # artifacts hide under an underscore dir (Spark skips it on read)
    assert os.path.isdir(os.path.join(idx, "_quantizer"))

    # regenerate the corpus -> fingerprint changes -> artifact is stale
    src.write_bytes(b"y" * 256)
    fp2 = data_fingerprint(str(src))
    assert fp2 != fp
    assert load_centroids(idx, expected_fingerprint=fp2) is None
    assert load_pq_codebooks(idx, expected_fingerprint=fp2) is None
    assert load_sq8_minmax(idx, expected_fingerprint=fp2) is None
    # absent artifact -> None (not an exception)
    assert load_centroids(str(tmp_path / "nowhere")) is None


# ---------------------------------------------------------------------------
# operators: build writes the quantizer, a fresh serve loads it
# ---------------------------------------------------------------------------


def test_ivf_persisted_serves_from_at_rest_centroids(spark, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivf_persisted_topk,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    built = _rows(ivf_persisted_topk(emb, _queries(emb), _cents(emb), path, k=5))
    # fresh session: no centroid table supplied at all
    served = _rows(
        ivf_persisted_topk(emb, _queries(emb), None, path, k=5, rebuild=False)
    )
    assert built == served
    # the index read must NOT see the _quantizer dir as data
    assert set(spark.read.parquet(path).columns) == {
        "neighbor_id",
        "_nvec",
        "cell",
    }
    # rebuild without a quantizer is a contract violation, not a guess
    with pytest.raises(ValueError, match="explicit centroid"):
        ivf_persisted_topk(emb, _queries(emb), None, path, k=5, rebuild=True)


#: The at-rest IVF serves, each called as (emb, queries, centroids,
#: path, rebuild) with every other argument at a valid value.  The PQ
#: codebooks only have to pass shape validation: every case below
#: raises before a code is used.
_PQ_BOOKS = [(m, 0, [0.0] * 8) for m in range(8)]
_AT_REST_SERVES = {
    "ivf_persisted_topk": lambda s, e, q, c, p, r: s.ivf_persisted_topk(
        e, q, c, p, rebuild=r
    ),
    "ivf_filtered_topk": lambda s, e, q, c, p, r: s.ivf_filtered_topk(
        e, q, c, p, "vec_id >= 0", rebuild=r
    ),
    "ivf_diverse_topk": lambda s, e, q, c, p, r: s.ivf_diverse_topk(
        e, q, c, p, rebuild=r
    ),
    "ivf_range_search": lambda s, e, q, c, p, r: s.ivf_range_search(
        e, q, c, p, 0.5, rebuild=r
    ),
    "ivfadc_topk": lambda s, e, q, c, p, r: s.ivfadc_topk(
        e, q, c, _PQ_BOOKS, p, rebuild=r
    ),
    "ivfadc_residual_topk": lambda s, e, q, c, p, r: s.ivfadc_residual_topk(
        e, q, c, p, rebuild=r
    ),
    "ivf_sq8_topk": lambda s, e, q, c, p, r: s.ivf_sq8_topk(
        e, q, c, p, rebuild=r
    ),
    "ivf_bq_topk": lambda s, e, q, c, p, r: s.ivf_bq_topk(
        e, q, c, p, rebuild=r
    ),
}


@pytest.mark.parametrize("serve", sorted(_AT_REST_SERVES))
def test_at_rest_serve_quantizer_contract(spark, tmp_path, serve):
    """Every at-rest IVF serve resolves its coarse quantizer the same
    way: a rebuild must be handed its centroids, a serve-only call on a
    directory with no artifact refuses rather than guessing, and an
    empty centroid table is an error, not an empty result."""
    from spark_streaming_kafka2elasticsearch_spark.operators import similarity

    call = _AT_REST_SERVES[serve]
    emb = _emb(spark)
    q = _queries(emb)
    path = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="explicit centroid"):
        call(similarity, emb, q, None, path, True)
    with pytest.raises(ValueError, match=r"\(or stale\)"):
        call(similarity, emb, q, None, path, False)
    with pytest.raises(ValueError, match="needs >= 1"):
        call(similarity, emb, q, _cents(emb).filter(F.lit(False)), path, True)


def test_ivfadc_and_residual_serve_from_at_rest_artifacts(spark, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivfadc_residual_topk,
        ivfadc_topk,
    )

    emb = _emb(spark)
    seed = (
        emb.filter(F.col("vec_id") < 16)
        .select("vec_id", F.col("embedding").alias("v"))
        .collect()
    )
    books = [
        (m, int(r["vec_id"]), list(r["v"][m * 8 : (m + 1) * 8]))
        for r in seed
        for m in range(8)
    ]

    path = str(tmp_path / "ivfadc")
    built = _rows(
        ivfadc_topk(emb, _queries(emb), _cents(emb), books, path, k=5, n_probe=2)
    )
    served = _rows(
        ivfadc_topk(
            emb, _queries(emb), None, None, path, k=5, n_probe=2, rebuild=False
        )
    )
    assert built == served

    rpath = str(tmp_path / "ivfadc_res")
    rbuilt = _rows(
        ivfadc_residual_topk(
            emb, _queries(emb), _cents(emb), rpath, k=5, n_probe=2, n_codes=16
        )
    )
    rserved = _rows(
        ivfadc_residual_topk(
            emb, _queries(emb), None, rpath, k=5, n_probe=2, n_codes=16,
            rebuild=False,
        )
    )
    assert rbuilt == rserved


def test_ivf_sq8_serves_from_at_rest_grid(spark, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators import similarity as sim

    emb = _emb(spark)
    path = str(tmp_path / "ivfsq8")
    built = _rows(
        sim.ivf_sq8_topk(emb, _queries(emb), _cents(emb), path, k=5, n_probe=2)
    )
    # a pure serve must not re-fit the grid (that is a full corpus scan)
    orig = sim.sq8_minmax
    sim.sq8_minmax = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("refit on serve")
    )
    try:
        served = _rows(
            sim.ivf_sq8_topk(
                emb, _queries(emb), None, path, k=5, n_probe=2, rebuild=False
            )
        )
    finally:
        sim.sq8_minmax = orig
    assert built == served


def test_stale_fingerprint_refuses_to_serve(spark, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivf_persisted_topk,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    ivf_persisted_topk(
        emb, _queries(emb), _cents(emb), path, k=5, fingerprint="fp-build"
    )
    # same fingerprint serves; a different one refuses
    ivf_persisted_topk(
        emb, _queries(emb), None, path, k=5, rebuild=False,
        fingerprint="fp-build",
    ).collect()
    with pytest.raises(ValueError, match="stale"):
        ivf_persisted_topk(
            emb, _queries(emb), None, path, k=5, rebuild=False,
            fingerprint="fp-moved",
        )


# ---------------------------------------------------------------------------
# registered queries: a FRESH session serves the trained quantizers
# from rest — no retraining (the r10 verdict's done-criterion)
# ---------------------------------------------------------------------------


def test_trained_queries_serve_from_rest_in_fresh_session(spark):
    import spark_streaming_kafka2elasticsearch_spark.operators.similarity as sim
    import spark_streaming_kafka2elasticsearch_spark.queries.advanced as adv
    from spark_streaming_kafka2elasticsearch_spark.queries import all_queries

    q = all_queries()
    names = ["ann_ivf_trained_topk", "ann_pq_trained_topk", "ann_ivf_sq8_topk"]
    first = {n: _rows(q[n](spark, SF_DIR)) for n in names}

    # simulate a restarted serving session: process caches gone, and
    # training entry points booby-trapped to prove nothing retrains
    adv._CODEBOOK_CACHE.clear()
    adv._PQ_CACHE.clear()
    orig_km, orig_pq = sim.spherical_kmeans_train, sim.pq_train_codebooks

    def _no_retrain(*a, **k):
        raise AssertionError("fresh session retrained instead of loading")

    sim.spherical_kmeans_train = _no_retrain
    sim.pq_train_codebooks = _no_retrain
    try:
        second = {n: _rows(q[n](spark, SF_DIR)) for n in names}
    finally:
        sim.spherical_kmeans_train = orig_km
        sim.pq_train_codebooks = orig_pq
    assert first == second


# ---------------------------------------------------------------------------
# small-file compaction of the appended IVF layout (VERDICT r10 item 6)
# ---------------------------------------------------------------------------


def _cell_file_counts(path):
    counts = {}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if entry.startswith("cell=") and os.path.isdir(full):
            counts[entry] = sum(
                1
                for f in os.listdir(full)
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
    return counts


def test_compact_ivf_cells_preserves_serving_and_shrinks_files(spark, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivf_persisted_append,
        ivf_persisted_topk,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        compact_partitions,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf_inc")
    base = emb.filter(F.col("vec_id") % 4 == 0)
    cents, queries = _cents(emb), _queries(emb)
    ivf_persisted_topk(base, queries.limit(0), cents, path, k=10)
    # three daily deltas -> several files per touched cell directory
    for m in (1, 2, 3):
        ivf_persisted_append(emb.filter(F.col("vec_id") % 4 == m), cents, path)

    before_counts = _cell_file_counts(path)
    assert max(before_counts.values()) > 2, before_counts
    before_serve = _rows(
        ivf_persisted_topk(emb, queries, cents, path, k=10, rebuild=False)
    )
    before_rows = spark.read.parquet(path).count()

    compacted = compact_partitions(
        spark, path, "cell", max_files_per_partition=2,
        target_files_per_partition=1,
    )
    assert compacted, "multi-delta layout must have oversized cells"

    after_counts = _cell_file_counts(path)
    # every oversized cell shrank; no cell got worse
    for cell, n in after_counts.items():
        assert n <= max(before_counts[cell], 2), (cell, n, before_counts[cell])
    assert sum(after_counts.values()) < sum(before_counts.values())
    # compaction rewrites files, never rows: same count, same serving
    assert spark.read.parquet(path).count() == before_rows
    after_serve = _rows(
        ivf_persisted_topk(emb, queries, cents, path, k=10, rebuild=False)
    )
    assert before_serve == after_serve
    # the quantizer artifact survived the partition overwrite
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        load_centroids,
    )

    assert load_centroids(path) is not None
    # idempotent: a second compaction finds nothing oversized
    assert (
        compact_partitions(spark, path, "cell", max_files_per_partition=2)
        == []
    )


# ---------------------------------------------------------------------------
# VectorIndex facade: one directory, whole lifecycle, zero new dataflow
# ---------------------------------------------------------------------------


def test_vector_index_facade_matches_direct_operators(spark, tmp_path):
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivf_persisted_topk,
        ivf_range_search,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.vector_index import (
        VectorIndex,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 4 != 0)
    delta = emb.filter(F.col("vec_id") % 4 == 0)
    queries, cents = _queries(emb), _cents(emb)

    path = str(tmp_path / "vidx")
    idx = VectorIndex(path).build(base, cents)
    idx.append(delta)
    compacted = idx.compact(max_files_per_cell=1)
    assert isinstance(compacted, list)

    got = _rows(idx.search(emb, queries, k=10, n_probe=2))
    want = _rows(
        ivf_persisted_topk(
            emb, queries, cents, str(tmp_path / "direct"), k=10, n_probe=2
        )
    )
    assert got == want

    got_range = _rows(idx.range_search(emb, queries, threshold=0.2))
    want_range = _rows(
        ivf_range_search(
            emb, queries, cents, str(tmp_path / "direct"), threshold=0.2,
            n_probe=2, rebuild=False,
        )
    )
    assert got_range == want_range

    got_div = _rows(idx.diverse_search(emb, queries, k=10, per_cell=3))
    assert got_div  # quota path serves from the same layout

    # FRESH SESSION: a new facade over the same directory serves
    # identically with no centroid table supplied — the at-rest
    # quantizer is the whole handshake
    idx2 = VectorIndex(path)
    assert _rows(idx2.search(emb, queries, k=10, n_probe=2)) == want


# ---------------------------------------------------------------------------
# r12: at-rest BQ codes + NN-Descent edge list, and the VectorIndex
# facade serving every rung from ONE directory (VERDICT r11 items 2/5)
# ---------------------------------------------------------------------------


def test_bq_codes_serve_from_rest_and_guard_fingerprint(spark, tmp_path):
    """Flat-BQ at rest: persisted packed codes answer byte-identically
    to the in-flight encode, a corpus=None call proves the serve path
    never touches the float corpus for encoding, and a stale
    fingerprint refuses to serve."""
    import pytest as _pytest

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        bq_hamming_topk,
        bq_persist_codes,
        bq_refine_topk,
    )

    emb, path = _emb(spark), str(tmp_path / "bq_idx")
    queries = _queries(emb)
    inflight = _rows(bq_hamming_topk(emb, queries, k=10, dim=64))
    bq_persist_codes(emb, path, dim=64, fingerprint="fp1", rebuild=True)
    codes = bq_persist_codes(None, path, dim=64, fingerprint="fp1", spark=spark)
    at_rest = _rows(
        bq_hamming_topk(emb, queries, k=10, dim=64, corpus_codes=codes)
    )
    assert inflight == at_rest
    refine_inflight = _rows(bq_refine_topk(emb, queries, k=5, shortlist=20))
    refine_rest = _rows(
        bq_refine_topk(emb, queries, k=5, shortlist=20, corpus_codes=codes)
    )
    assert refine_inflight == refine_rest
    with _pytest.raises(ValueError, match="stale"):
        bq_persist_codes(None, path, dim=64, fingerprint="fp2", spark=spark)


def test_knn_graph_persist_serves_at_rest_without_rebuild(spark, tmp_path):
    """The at-rest edge list round-trips bit-identically, and the
    serve path (corpus=None) provably never re-runs descent — the
    booby-trap idiom from the trained-quantizer fresh-session test."""
    import pytest as _pytest

    import spark_streaming_kafka2elasticsearch_spark.operators.similarity as sim

    emb, path = _emb(spark), str(tmp_path / "graph_idx")
    built = _rows(
        sim.knn_graph_persist(
            emb, path, k=8, fingerprint="fp1", rebuild=True
        )
    )
    orig = sim.nn_descent_graph

    def _no_rebuild(*a, **k):
        raise AssertionError("serve path re-ran NN-Descent")

    sim.nn_descent_graph = _no_rebuild
    try:
        served = _rows(
            sim.knn_graph_persist(
                None, path, k=8, fingerprint="fp1", spark=spark
            )
        )
    finally:
        sim.nn_descent_graph = orig
    assert built == served
    with _pytest.raises(ValueError, match="stale"):
        sim.knn_graph_persist(None, path, k=8, fingerprint="fp2", spark=spark)


def test_vector_index_facade_serves_every_rung_from_one_dir(spark, tmp_path):
    """VectorIndex binds ivf + bq + bq_refine + graph serving to ONE
    index directory, each method-for-method equal to the direct
    operator calls over the same at-rest artifacts."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        bq_hamming_topk,
        bq_persist_codes,
        bq_refine_topk,
        graph_beam_topk,
        ivf_persisted_topk,
        knn_graph_persist,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.vector_index import (
        VectorIndex,
    )

    emb, path = _emb(spark), str(tmp_path / "multi_idx")
    queries, cents = _queries(emb), _cents(emb)
    idx = VectorIndex(path)
    idx.build(emb, cents)
    idx.build_bq(emb)
    idx.build_graph(emb)

    assert _rows(idx.search(emb, queries, k=10, n_probe=2)) == _rows(
        ivf_persisted_topk(
            emb, queries, cents, path, k=10, n_probe=2, rebuild=False
        )
    )
    codes = bq_persist_codes(None, path, spark=spark)
    assert _rows(idx.search(emb, queries, k=10, method="bq")) == _rows(
        bq_hamming_topk(emb, queries, k=10, corpus_codes=codes)
    )
    assert _rows(
        idx.search(emb, queries, k=5, method="bq_refine", shortlist=20)
    ) == _rows(bq_refine_topk(emb, queries, k=5, shortlist=20, corpus_codes=codes))
    edges = knn_graph_persist(None, path, spark=spark)
    assert _rows(idx.search(emb, queries, k=5, method="graph")) == _rows(
        graph_beam_topk(edges, emb, queries, k=5, beam=8, rounds=3)
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown search method"):
        idx.search(emb, queries, method="hnsw")


def test_bq_append_and_delete_maintain_at_rest_codes(spark, tmp_path):
    """BQ lifecycle at rest: append(base codes, delta) serves equal to
    the full in-flight encode; delete(ids) serves equal to the
    in-flight encode over the survivors — per-row-deterministic
    encoding makes both byte-exact.  Exercised through the VectorIndex
    facade (append_bq/delete_bq) with fingerprint re-stamping."""
    from pyspark.sql import functions as SF

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        bq_hamming_topk,
        bq_persist_codes,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.vector_index import (
        VectorIndex,
    )

    emb, path = _emb(spark), str(tmp_path / "bq_lifecycle")
    n = emb.count()
    m = n - 50
    queries = _queries(emb)
    idx = VectorIndex(path, fingerprint="fp_base")
    idx.build_bq(emb.filter(SF.col("vec_id") < m))
    idx.append_bq(emb.filter(SF.col("vec_id") >= m), new_fingerprint="fp_full")
    codes = bq_persist_codes(
        None, path, fingerprint="fp_full", spark=spark
    )
    got = _rows(bq_hamming_topk(emb, queries, k=10, corpus_codes=codes))
    want = _rows(bq_hamming_topk(emb, queries, k=10))
    assert got == want
    doomed = emb.filter(SF.col("vec_id") % 7 == 3).select("vec_id")
    idx.delete_bq(doomed, new_fingerprint="fp_del")
    codes2 = bq_persist_codes(None, path, fingerprint="fp_del", spark=spark)
    got2 = _rows(bq_hamming_topk(emb, queries, k=10, corpus_codes=codes2))
    want2 = _rows(
        bq_hamming_topk(emb.filter(SF.col("vec_id") % 7 != 3), queries, k=10)
    )
    assert got2 == want2 and got2 != got


def test_vector_index_refresh_graph_equals_direct_operator(spark, tmp_path):
    """VectorIndex.refresh_graph folds a delta into the at-rest edge
    list with the bounded-delta refresh: result equals the direct
    nn_descent_refresh call (params read back from the meta sidecar),
    the layout is atomically rewritten, and a FRESH facade serves
    from the refreshed state under the new fingerprint."""
    from pyspark.sql import functions as SF

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_refresh,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.vector_index import (
        VectorIndex,
    )

    emb, path = _emb(spark), str(tmp_path / "refresh_idx")
    n = emb.count()
    m = n - 50
    old = emb.filter(SF.col("vec_id") < m)
    delta = emb.filter(SF.col("vec_id") >= m)
    idx = VectorIndex(path, fingerprint="fp_old")
    idx.build_graph(old, k=8, k_build=16, rounds=2)
    old_edges = spark.read.parquet(f"{path}/_graph").select(
        "src", "dst", "rank"
    ).localCheckpoint(eager=True)
    got = _rows(idx.refresh_graph(emb, delta, new_fingerprint="fp_new"))
    want = _rows(
        nn_descent_refresh(
            old_edges, emb, delta, k=8, k_build=16, dim=64, rounds=2,
            occupancy=32, ring=2,
        )
    )
    assert got == want
    # fresh facade under the NEW fingerprint serves the refreshed graph
    queries = _queries(emb)
    fresh = VectorIndex(path, fingerprint="fp_new")
    assert _rows(fresh.search(emb, queries, k=5, method="graph"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stale"):
        VectorIndex(path, fingerprint="fp_old").search(
            emb, queries, k=5, method="graph"
        )


def test_graph_serve_honors_non_default_build_params(spark, tmp_path):
    """ADVICE r12 (low): a graph built with non-default build_graph
    params must still serve through search(method='graph') — the serve
    path validates the FINGERPRINT only and reads the build params
    back from _graph_meta.json, instead of demanding the caller's
    defaults equal the stored params."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        graph_beam_topk,
        knn_graph_persist,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.vector_index import (
        VectorIndex,
    )

    emb, path = _emb(spark), str(tmp_path / "param_idx")
    queries = _queries(emb)
    VectorIndex(path, fingerprint="fp1").build_graph(
        emb, k=8, k_build=20, rounds=2
    )
    # fresh facade, default search dials — must serve the k=8 layout
    idx = VectorIndex(path, fingerprint="fp1")
    got = _rows(idx.search(emb, queries, k=5, method="graph"))
    edges = knn_graph_persist(None, path, fingerprint="fp1", spark=spark)
    assert got == _rows(graph_beam_topk(edges, emb, queries, k=5))
    # a stale fingerprint still refuses on the serve path
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stale"):
        VectorIndex(path, fingerprint="fp2").search(
            emb, queries, k=5, method="graph"
        )


def test_ivf_delete_restamps_fingerprint(spark, tmp_path):
    """ADVICE r13: after an IVF delete the mutated layout must serve
    under a fingerprint describing the POST-delete corpus, like its
    sibling lifecycle ops (delete_bq/append_bq/refresh_graph) — the
    old fingerprint goes stale, the new one loads."""
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        load_centroids,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.vector_index import (
        VectorIndex,
    )

    emb = _emb(spark)
    cents = _cents(emb)
    path = str(tmp_path / "ivf_restamp")
    idx = VectorIndex(path, fingerprint="fp_base")
    idx.build(emb, cents)
    assert load_centroids(path, expected_fingerprint="fp_base") is not None

    doomed = emb.filter(F.col("vec_id") % 9 == 1).select("vec_id")
    touched = idx.delete(doomed, new_fingerprint="fp_del")
    assert touched  # the doomed ids live in at least one cell
    assert idx.fingerprint == "fp_del"
    # Old fingerprint is now STALE, the restamped one serves; the
    # centroid VALUES are unchanged (delete never retrains).
    assert load_centroids(path, expected_fingerprint="fp_base") is None
    crows = load_centroids(path, expected_fingerprint="fp_del")
    assert crows is not None and len(crows) == len(_rows(cents))

    # No-op delete (ids absent from the index) still restamps: the
    # caller's corpus description moved even if no cell was rewritten.
    ghost = spark.range(10_000_000, 10_000_005).select(
        F.col("id").alias("vec_id")
    )
    assert idx.delete(ghost, new_fingerprint="fp_del2") == []
    assert load_centroids(path, expected_fingerprint="fp_del2") is not None


def test_vector_index_delete_graph_equals_direct_operator(spark, tmp_path):
    """VectorIndex.delete_graph (VERDICT r13 item 4, facade leg):
    erases ids from the at-rest edge list with the Δ-bounded descent
    delete — result equals the direct nn_descent_delete call (params
    read back from the meta sidecar), deleted ids vanish from both
    endpoints, the layout is atomically rewritten, and a FRESH facade
    serves from the post-delete state under the new fingerprint."""
    from pyspark.sql import functions as SF

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_delete,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.vector_index import (
        VectorIndex,
    )

    emb, path = _emb(spark), str(tmp_path / "delete_graph_idx")
    idx = VectorIndex(path, fingerprint="fp_full")
    idx.build_graph(emb, k=8, k_build=16, rounds=2)
    old_edges = spark.read.parquet(f"{path}/_graph").select(
        "src", "dst", "rank"
    ).localCheckpoint(eager=True)
    doomed = emb.filter(SF.col("vec_id") % 7 == 3).select("vec_id")
    survivors = emb.filter(SF.col("vec_id") % 7 != 3)
    got = _rows(idx.delete_graph(survivors, doomed, new_fingerprint="fp_del"))
    want = _rows(
        nn_descent_delete(
            old_edges, survivors, doomed, k=8, k_build=16, dim=64,
            rounds=1, occupancy=32,
        )
    )
    assert got == want
    del_ids = {r.vec_id for r in doomed.collect()}
    assert not {r[0] for r in got} & del_ids
    assert not {r[1] for r in got} & del_ids
    queries = _queries(survivors)
    fresh = VectorIndex(path, fingerprint="fp_del")
    served = fresh.search(survivors, queries, k=5, method="graph").collect()
    assert served and not {r.neighbor_id for r in served} & del_ids
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stale"):
        VectorIndex(path, fingerprint="fp_full").search(
            survivors, queries, k=5, method="graph"
        )

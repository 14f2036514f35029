"""At-rest bigram-LM count index (operators/lm_index): additive
segment maintenance — persist + append + negative-segment delete +
merge-on-read + compaction — each pinned bit-equal to the
from-scratch count relation / KN model / document gate over the
equivalent live corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators.lm_index import (
    _segment,
    kn_index_append,
    kn_index_compact,
    kn_index_counts,
    kn_index_delete,
    kn_index_model,
    kn_index_persist,
)
from spark_streaming_kafka2elasticsearch_spark.operators.text import (
    bigram_count_relation,
    kn_bigram_model,
    kn_doc_scores,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_lm_index_append_merge_equals_from_scratch(spark, tmp_path):
    """Counts merged from base + appended segments equal the one-scan
    count relation over the full corpus; KN model and per-doc gate
    scores served from them are bit-equal to the from-scratch fit; a
    replayed append is a no-op; the functional delta leg matches the
    disk leg."""
    docs = _docs(spark)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "lm")
    kn_index_persist(old, path, n_parts=8, fingerprint="fp0")

    functional = kn_index_counts(
        spark, path, delta_docs=delta, expected_fingerprint="fp0"
    )
    want_counts = _rows(bigram_count_relation(docs))
    assert _rows(functional) == want_counts

    assert kn_index_append(path, delta, new_fingerprint="fp1") > 0
    assert _rows(kn_index_counts(spark, path)) == want_counts
    assert kn_index_append(path, delta) == 0          # replay no-op
    assert _rows(kn_index_counts(spark, path)) == want_counts

    model = kn_index_model(spark, path, expected_fingerprint="fp1")
    want_model = kn_bigram_model(docs)
    assert _rows(model) == _rows(want_model)
    got_scores = kn_doc_scores(docs, model)
    want_scores = kn_doc_scores(docs, want_model)
    assert _rows(got_scores) == _rows(want_scores) and got_scores.count() > 0
    with pytest.raises(ValueError, match="stale"):
        kn_index_counts(spark, path, expected_fingerprint="fp0")


def test_lm_index_negative_segment_delete_and_compact(spark, tmp_path):
    """Deletion by negated counts: merged counts equal the one-scan
    relation over the SURVIVORS (fully-erased bigram types vanish,
    shrinking n1f/n1b/|types| exactly as a refit would); a replayed
    delete is a no-op; an erased id can never be re-appended, even
    after compaction; compaction folds every segment into one base
    with identical merged counts."""
    docs = _docs(spark)
    doomed = docs.filter(F.col("doc_id") % 7 == 3)
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    path = str(tmp_path / "lm")
    kn_index_persist(docs, path, n_parts=8, fingerprint="fp0")
    n = kn_index_delete(path, doomed, new_fingerprint="fp1")
    assert n == doomed.count() > 0

    want_counts = _rows(bigram_count_relation(survivors))
    assert _rows(kn_index_counts(spark, path)) == want_counts
    assert kn_index_delete(path, doomed) == 0          # replay no-op
    assert _rows(kn_index_counts(spark, path)) == want_counts

    model = kn_index_model(spark, path, expected_fingerprint="fp1")
    want_scores = kn_doc_scores(survivors, kn_bigram_model(survivors))
    got_scores = kn_doc_scores(survivors, model)
    assert _rows(got_scores) == _rows(want_scores) and got_scores.count() > 0

    # crashed-delete replay armor: an identical 'd' segment appended
    # twice dedups in the merge (the deterministic _seg id)
    meta_parts = 8
    _segment(doomed, "doc_id", "text", meta_parts, "d").write.mode(
        "append"
    ).partitionBy("part").parquet(f"{path}/bigrams")
    assert _rows(kn_index_counts(spark, path)) == want_counts

    n_segs = kn_index_compact(spark, path)
    assert n_segs >= 2
    segs = {
        r["_seg"]
        for r in spark.read.parquet(f"{path}/bigrams")
        .select("_seg").distinct().collect()
    }
    assert segs == {"b"}
    assert _rows(kn_index_counts(spark, path)) == want_counts
    # erased ids stay erased across compaction
    assert kn_index_append(path, doomed) == 0
    assert _rows(kn_index_counts(spark, path)) == want_counts


def test_lm_index_repersist_clears_old_removed_ids(spark, tmp_path):
    """A full persist over an index with a ``removed`` table starts
    clean: deleting the same documents again erases as many as the
    first time, and the counts equal the survivors' relation."""
    docs = _docs(spark)
    doomed = docs.filter(F.col("doc_id") % 7 == 3)
    path = str(tmp_path / "lm")
    kn_index_persist(docs, path, n_parts=8)
    first = kn_index_delete(path, doomed)
    assert first > 0
    kn_index_persist(docs, path, n_parts=8)
    assert kn_index_delete(path, doomed) == first
    survivors = docs.filter(F.col("doc_id") % 7 != 3)
    assert _rows(kn_index_counts(spark, path)) == _rows(
        bigram_count_relation(survivors)
    )

"""At-rest BM25 inverted index lifecycle (operators/bm25_index):
persist + blind append + tombstoned delete + compaction + pruned
serve, each pinned bit-equal to the from-scratch operator
(operators/text.bm25_scores) over the equivalent corpus."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators.bm25_index import (
    bm25_index_append,
    bm25_index_compact,
    bm25_index_delete,
    bm25_index_persist,
    bm25_index_reconcile,
    bm25_index_topk,
)
from spark_streaming_kafka2elasticsearch_spark.operators.text import bm25_scores

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )


def _scratch_topk(docs, query_docs, k=10):
    """The from-scratch reference: bm25_scores + the bm25_doc_topk
    ranking discipline (local pre-rank, then the global window)."""
    scored = bm25_scores(docs, query_docs).filter(
        F.col("query_doc_id") != F.col("doc_id")
    )
    part_w = Window.partitionBy(
        F.spark_partition_id(), "query_doc_id"
    ).orderBy(F.desc("score_dec"), F.asc("doc_id"))
    local = scored.withColumn("_lr", F.row_number().over(part_w)).filter(
        F.col("_lr") <= k
    )
    w = Window.partitionBy("query_doc_id").orderBy(
        F.desc("score_dec"), F.asc("doc_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_doc_id", "doc_id",
            F.col("rank").cast("int").alias("rank"), "score",
        )
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_bm25_serve_equals_from_scratch(spark, tmp_path):
    """Serving from the at-rest index — partition-pruned postings
    read, meta-counter stats — is bit-equal (ranks AND scores) to the
    from-scratch operator over the same corpus."""
    docs = _docs(spark)
    queries = docs.filter(F.col("doc_id") < 5)
    path = str(tmp_path / "idx")
    bm25_index_persist(docs, path, n_parts=16, fingerprint="fp0")
    got = bm25_index_topk(
        spark, path, queries, k=10, expected_fingerprint="fp0"
    )
    want = _scratch_topk(docs, queries)
    assert _rows(got) == _rows(want) and got.count() > 0
    with pytest.raises(ValueError, match="stale"):
        bm25_index_topk(spark, path, queries, expected_fingerprint="nope")


def test_bm25_append_functional_and_disk_equal_rebuild(spark, tmp_path):
    """Both append legs — the functional delta-union serve and the
    disk-mutating blind append — equal the from-scratch operator over
    the full corpus; a replayed disk append is a no-op and leaves the
    exact counters untouched."""
    docs = _docs(spark)
    queries = docs.filter(F.col("doc_id") < 5)
    delta_cond = (F.col("doc_id") % 5 == 3) & (F.col("doc_id") >= 5)
    old = docs.filter(~delta_cond)
    delta = docs.filter(delta_cond)
    path = str(tmp_path / "idx")
    bm25_index_persist(old, path, n_parts=16, fingerprint="fp0")
    want = _rows(_scratch_topk(docs, queries))

    functional = bm25_index_topk(
        spark, path, queries, k=10, delta_docs=delta,
        expected_fingerprint="fp0",
    )
    assert _rows(functional) == want

    assert bm25_index_append(path, delta, new_fingerprint="fp1") > 0
    served = bm25_index_topk(
        spark, path, queries, k=10, expected_fingerprint="fp1"
    )
    assert _rows(served) == want and served.count() > 0

    meta_before = json.load(open(os.path.join(path, "_bm25_meta.json")))
    assert bm25_index_append(path, delta) == 0
    meta_after = json.load(open(os.path.join(path, "_bm25_meta.json")))
    assert (meta_after["n_docs"], meta_after["sum_dl"]) == (
        meta_before["n_docs"], meta_before["sum_dl"],
    )


def test_bm25_delete_tombstone_serve_and_compaction(
    spark, tmp_path, monkeypatch
):
    """Tombstoned deletion: O(delta) id append + exact counter
    decrement, no postings rewrite — serving equals the from-scratch
    operator over the SURVIVORS; a replayed delete is a no-op; an
    erased id cannot be re-appended; compaction drops the dead rows
    (postings row-set == fresh persist over survivors), clears the
    tombstone table, and serving is unchanged.  A compaction whose
    postings swap crashes between its renames still serves the
    pre-compact answer, and a second compaction finishes the job."""
    docs = _docs(spark)
    queries = docs.filter(F.col("doc_id") < 5)
    del_cond = (F.col("doc_id") % 20 == 7) & (F.col("doc_id") >= 5)
    doomed = docs.filter(del_cond).select("doc_id")
    survivors = docs.filter(~del_cond)
    path = str(tmp_path / "idx")
    bm25_index_persist(docs, path, n_parts=16, fingerprint="fp0")
    n = bm25_index_delete(spark, path, doomed, new_fingerprint="fp1")
    assert n == doomed.count() > 0
    assert os.path.isdir(os.path.join(path, "tombstones"))

    want = _rows(_scratch_topk(survivors, queries))
    served = bm25_index_topk(
        spark, path, queries, k=10, expected_fingerprint="fp1"
    )
    assert _rows(served) == want and served.count() > 0
    doomed_ids = {r.doc_id for r in doomed.collect()}
    assert not {r.doc_id for r in served.collect()} & doomed_ids

    meta_before = json.load(open(os.path.join(path, "_bm25_meta.json")))
    assert bm25_index_delete(spark, path, doomed) == 0
    meta_after = json.load(open(os.path.join(path, "_bm25_meta.json")))
    assert (meta_after["n_docs"], meta_after["sum_dl"]) == (
        meta_before["n_docs"], meta_before["sum_dl"],
    )
    # an erased id stays erased (never reused)
    assert bm25_index_append(path, docs.filter(del_cond)) == 0

    rename = os.rename

    def crash_on_new_postings(src, dst):
        if os.path.basename(src).startswith("postings__tmp_"):
            raise OSError("crash while renaming the new postings in")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_new_postings)
    with pytest.raises(OSError):
        bm25_index_compact(spark, path)
    monkeypatch.setattr(os, "rename", rename)
    assert not os.path.exists(os.path.join(path, "postings"))
    interrupted = bm25_index_topk(
        spark, path, queries, k=10, expected_fingerprint="fp1"
    )
    assert _rows(interrupted) == want

    assert bm25_index_compact(spark, path) == n
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    fresh = str(tmp_path / "fresh")
    bm25_index_persist(survivors, fresh, n_parts=16, fingerprint="fp1")
    got_rows = _rows(
        spark.read.parquet(f"{path}/postings").select(
            "doc_id", "tok", "tf", "part"
        )
    )
    want_rows = _rows(
        spark.read.parquet(f"{fresh}/postings").select(
            "doc_id", "tok", "tf", "part"
        )
    )
    assert got_rows == want_rows
    after = bm25_index_topk(
        spark, path, queries, k=10, expected_fingerprint="fp1"
    )
    assert _rows(after) == want


def test_bm25_repersist_clears_old_tombstones(spark, tmp_path):
    """A full persist over an index that has tombstones starts clean:
    deleting the same ids again erases as many as the first time, and
    the meta counters agree with the ground truth reconcile derives."""
    docs = _docs(spark)
    doomed = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    path = str(tmp_path / "idx")
    bm25_index_persist(docs, path, n_parts=16, fingerprint="fp0")
    first = bm25_index_delete(spark, path, doomed)
    assert first > 0
    bm25_index_persist(docs, path, n_parts=16, fingerprint="fp0")
    meta = json.load(open(os.path.join(path, "_bm25_meta.json")))
    assert meta["n_docs"] == bm25_index_reconcile(spark, path)[0]
    assert bm25_index_delete(spark, path, doomed) == first


def test_bm25_meta_write_crash_keeps_previous_meta(spark, tmp_path, monkeypatch):
    """A crash halfway through the meta write of an append leaves the
    previous meta readable; reconcile then squares the counters with
    the appended tables, and serving equals the from-scratch operator
    over the full corpus."""
    docs = _docs(spark)
    queries = docs.filter(F.col("doc_id") < 5)
    delta_cond = (F.col("doc_id") % 5 == 3) & (F.col("doc_id") >= 5)
    path = str(tmp_path / "idx")
    bm25_index_persist(docs.filter(~delta_cond), path, n_parts=16)
    meta_path = os.path.join(path, "_bm25_meta.json")
    before = json.load(open(meta_path))

    def half_dump(obj, fh, *args, **kwargs):
        text = json.dumps(obj)
        fh.write(text[: len(text) // 2])
        raise OSError("crash while writing the meta")

    monkeypatch.setattr(json, "dump", half_dump)
    with pytest.raises(OSError):
        bm25_index_append(path, docs.filter(delta_cond))
    monkeypatch.undo()
    assert json.load(open(meta_path)) == before

    n_docs, sum_dl = bm25_index_reconcile(spark, path)
    assert n_docs == docs.count()
    after = json.load(open(meta_path))
    assert (after["n_docs"], after["sum_dl"]) == (n_docs, sum_dl)
    served = bm25_index_topk(spark, path, queries, k=10)
    assert _rows(served) == _rows(_scratch_topk(docs, queries))

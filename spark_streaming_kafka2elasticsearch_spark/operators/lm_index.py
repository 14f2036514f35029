"""At-rest bigram-LM count index with additive segment maintenance —
the text family's maintenance rung.

The Kneser–Ney gate (operators/text.kn_bigram_model + kn_doc_scores)
re-scans the corpus to rebuild the ``(w1, w2, c2)`` count relation
every fit; at 100 TB that scan is the dominant cost and counts are
ADDITIVE — the one algebraic property the other index families don't
have.  This module exploits it with the LSM trade:

* **append** — the delta's bigram counts are written as a NEW SEGMENT
  (blind parquet add into w1-hash partitions); no old key is read or
  merged at write time.
* **delete** — the erased documents' counts are appended as a
  NEGATIVE segment (erasure needs the documents' text — the caller
  reads it from the corpus store before erasing it, which is the
  GDPR ordering anyway); no rewrite.
* **merge-on-read** — the served count relation is
  ``sum(c2) per (w1, w2) over all segments, HAVING sum > 0``: exact
  integer arithmetic, so a fully-erased bigram type vanishes from
  n1f/n1b/|types| precisely as a refit would drop it.  The merge is
  VOCABULARY-sized (distinct bigram types), not corpus-sized — that
  is the serve-time win: the from-scratch fit pays a corpus text
  scan, the index pays a fixed-width key aggregate.
* **compact** — fold all segments into one, dropping zero-total keys;
  run when the segment count or dead mass crosses policy.

Replay idempotency (streaming maintenance rides this): every segment
carries a DETERMINISTIC content-derived id ``_seg`` (xor of the
member doc ids' xxhash64, sign-tagged for deletions), so a crashed
writer that re-appends the same delta produces byte-identical rows
and the merge's ``dropDuplicates([_seg, w1, w2])`` pre-pass restores
exactly-once counting with no stamp or coordination.  The first-seen
gates (``doclog`` for appends, ``removed`` for deletes) make
redelivered batches no-ops at the id level; erased ids are never
re-countable (the ``removed`` table outlives compaction).

Layout under ``path/``::

    _lm_meta.json        n_parts + corpus fingerprint
    bigrams/part=H/      (_seg, w1, w2, c2) segments,
                         H = pmod(xxhash64(w1), n_parts); c2 < 0 in
                         deletion segments
    doclog/part=H/       (doc_id,) counted membership — append gate
    removed/             (doc_id,) erased — delete gate, permanent

Model serving (kn_model_from_counts over the merged relation) and
document scoring (kn_doc_scores) reuse the operators/text expression
cores verbatim, so a gate served from the maintained index is
bit-equal to the from-scratch fit — pinned by the registered queries'
DuckDB oracles (queries/datapipe.py) and tests/test_lm_index.py.

Engine-original module (no reference counterpart): extends the
SURVEY §2 text-analysis family alongside the LSH and BM25 indexes.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
    first_seen,
    index_meta,
    write_meta,
)
from spark_streaming_kafka2elasticsearch_spark.operators.text import (
    bigram_count_relation,
    kn_model_from_counts,
)
from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
    read_table,
    swap_table,
    write_table,
)

_LM_META = "_lm_meta.json"
_BG_DIR = "bigrams"
_DOCLOG_DIR = "doclog"
_REMOVED_DIR = "removed"


def _table(spark: SparkSession, path: str, sub: str) -> DataFrame | None:
    """One of the index's tables (``bigrams``, ``doclog``,
    ``removed``), read through :func:`read_table` so a compaction swap
    a crash interrupted is settled first; None when absent."""
    return read_table(spark, os.path.join(path, sub))


def _gone_ids(spark: SparkSession, path: str) -> DataFrame | None:
    removed = _table(spark, path, _REMOVED_DIR)
    return None if removed is None else removed.select("doc_id")


def _seg_id(docs: DataFrame, id_col: str, tag: str) -> str:
    """Deterministic content-derived segment id: xor-fold of the
    member ids' xxhash64 (order-free), hex, tag-prefixed ('a' append /
    'd' delete).  A replayed identical delta reproduces the id, which
    is what lets the merge dedup crashed double-writes."""
    row = docs.select(
        F.bit_xor(F.xxhash64(F.col(id_col))).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return f"{tag}{int(row['n'])}x{(int(row['h'] or 0)) & 0xFFFFFFFFFFFFFFFF:016x}"


def _segment(
    docs: DataFrame, id_col: str, text_col: str, n_parts: int, tag: str
) -> DataFrame:
    seg = _seg_id(docs, id_col, tag)
    bgf = bigram_count_relation(
        docs.select(F.col(text_col).alias("text")), "text"
    )
    if tag == "d":
        bgf = bgf.select("w1", "w2", (-F.col("c2")).alias("c2"))
    return bgf.select(
        F.lit(seg).alias("_seg"),
        "w1",
        "w2",
        "c2",
        F.pmod(F.xxhash64("w1"), F.lit(n_parts)).alias("part"),
    )


def kn_index_persist(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_parts: int = 16,
    fingerprint: str | None = None,
) -> None:
    """Lay the base count segment + doc membership down (full
    overwrite).  One corpus scan — the same scan a from-scratch fit
    pays once, here amortized over every later serve.  A previous
    build's ``removed`` table goes first, so its ids cannot block
    the deletes of the new build."""
    shutil.rmtree(os.path.join(path, _REMOVED_DIR), ignore_errors=True)
    seg = _segment(docs, id_col, text_col, n_parts, "b")
    seg.write.mode("overwrite").partitionBy("part").parquet(
        os.path.join(path, _BG_DIR)
    )
    docs.select(F.col(id_col).alias("doc_id")).withColumn(
        "part", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts))
    ).write.mode("overwrite").partitionBy("part").parquet(
        os.path.join(path, _DOCLOG_DIR)
    )
    write_meta(path, _LM_META, {"n_parts": n_parts, "fingerprint": fingerprint})


def kn_index_append(
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    new_fingerprint: str | None = None,
) -> int:
    """Fold new documents in as a fresh count segment — delta-only
    text scan, blind parquet add.  First-seen gate: ids already in
    the doclog or the removed table are dropped (a redelivered batch
    is a no-op; an erased id never counts again).  Write order is
    segment first, doclog last: a crash between them replays into an
    identical ``_seg`` whose rows the merge dedups, so counts can
    never double.  Returns the number of documents folded in."""
    spark = new_docs.sparkSession
    meta = index_meta(path, _LM_META)
    delta, n = first_seen(
        new_docs,
        id_col,
        _table(spark, path, _DOCLOG_DIR).select("doc_id"),
        _gone_ids(spark, path),
    )
    if n:
        write_table(
            _segment(delta, id_col, text_col, meta["n_parts"], "a"),
            os.path.join(path, _BG_DIR),
            ["part"],
            mode="append",
        )
        write_table(
            delta.select(F.col(id_col).alias("doc_id")).withColumn(
                "part", F.pmod(F.xxhash64("doc_id"), F.lit(meta["n_parts"]))
            ),
            os.path.join(path, _DOCLOG_DIR),
            ["part"],
            mode="append",
        )
    if new_fingerprint is not None:
        meta["fingerprint"] = new_fingerprint
        write_meta(path, _LM_META, meta)
    return n


def kn_index_delete(
    path: str,
    gone_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    new_fingerprint: str | None = None,
) -> int:
    """Erase documents by appending their NEGATED counts as a
    deletion segment — O(|Δ|) text scan, no rewrite.  ``gone_docs``
    must carry the documents' text (the caller reads it from the
    corpus store before erasing it there — the GDPR ordering).  Gate:
    only ids live in the doclog and not already in the removed table
    count; the removed append lands LAST (a crash before it replays
    into an identical ``_seg`` the merge dedups).  Returns the number
    of documents erased."""
    spark = gone_docs.sparkSession
    meta = index_meta(path, _LM_META)
    logged = _table(spark, path, _DOCLOG_DIR).select("doc_id")
    dele = gone_docs.join(
        logged, gone_docs[id_col] == logged["doc_id"], "left_semi"
    )
    gone_ids = _gone_ids(spark, path)
    if gone_ids is not None:
        dele = dele.join(
            gone_ids, dele[id_col] == gone_ids["doc_id"], "left_anti"
        )
    dele = dele.localCheckpoint(eager=True)
    n = dele.count()
    if n:
        write_table(
            _segment(dele, id_col, text_col, meta["n_parts"], "d"),
            os.path.join(path, _BG_DIR),
            ["part"],
            mode="append",
        )
        dele.select(F.col(id_col).alias("doc_id")).write.mode(
            "append"
        ).parquet(os.path.join(path, _REMOVED_DIR))
    if new_fingerprint is not None:
        meta["fingerprint"] = new_fingerprint
        write_meta(path, _LM_META, meta)
    return n


def _merged(segs: DataFrame) -> DataFrame:
    """The merge-on-read of ``(_seg, w1, w2, c2)`` segment rows:
    segment dedup (the crashed-double-write armor), per-key integer
    sum, zero-total keys dropped."""
    return (
        segs.dropDuplicates(["_seg", "w1", "w2"])
        .groupBy("w1", "w2")
        .agg(F.sum("c2").alias("c2"))
        .filter(F.col("c2") > 0)
    )


def kn_index_counts(
    spark: SparkSession,
    path: str,
    delta_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    expected_fingerprint: str | None = None,
) -> DataFrame:
    """The MERGED live count relation ``(w1, w2, c2)`` (:func:`_merged`)
    — bit-equal to bigram_count_relation over exactly the live
    documents.  Vocabulary-sized work: the corpus text is
    never touched.

    ``delta_docs`` is the FUNCTIONAL append — the delta's counts join
    the merge as one more in-flight segment (delta-only text scan),
    serving what the index looks like after ``kn_index_append``
    lands.

    The segment rows are hash-partitioned on ``w1`` once, up front:
    that one exchange satisfies the dedup, the ``(w1, w2)`` sum and
    :func:`kn_model_from_counts`' ``w1`` windows, which would otherwise
    each shuffle the relation again.  For the model it adds no skew
    the ``w1`` window does not already have; :func:`kn_index_compact`,
    which has no ``w1`` window, merges without it."""
    meta = index_meta(path, _LM_META, expected_fingerprint)
    segs = _table(spark, path, _BG_DIR).select("_seg", "w1", "w2", "c2")
    if delta_docs is not None:
        segs = segs.unionByName(
            _segment(
                delta_docs, id_col, text_col, meta["n_parts"], "a"
            ).select("_seg", "w1", "w2", "c2")
        )
    return _merged(segs.repartition("w1"))


def kn_index_model(
    spark: SparkSession,
    path: str,
    delta_docs: DataFrame | None = None,
    expected_fingerprint: str | None = None,
) -> DataFrame:
    """KN model statistics served from the maintained counts —
    operators/text.kn_model_from_counts over :func:`kn_index_counts`,
    so the model is bit-equal to a from-scratch fit on the live
    corpus (fw/bw/|types| are pure functions of the merged counts)."""
    return kn_model_from_counts(
        kn_index_counts(
            spark,
            path,
            delta_docs=delta_docs,
            expected_fingerprint=expected_fingerprint,
        )
    )


def kn_index_compact(spark: SparkSession, path: str) -> int:
    """Fold every segment into one base segment, dropping zero-total
    keys — the LSM merge.  The removed table is NOT cleared (erased
    ids stay non-countable forever); the doclog keeps only live ids.
    Both tables are replaced through :func:`sources.writer.swap_table`
    (the rewrite reads the table it replaces; a crash leaves the old
    or the new table, and a second compact finishes the job).
    Returns the number of segments folded."""
    segs = _table(spark, path, _BG_DIR)
    n_segs = segs.select("_seg").distinct().count()
    meta = index_meta(path, _LM_META)
    merged = _merged(segs.select("_seg", "w1", "w2", "c2")).select(
        F.lit("b").alias("_seg"),
        "w1",
        "w2",
        "c2",
        F.pmod(F.xxhash64("w1"), F.lit(meta["n_parts"])).alias("part"),
    )
    swap_table(merged, os.path.join(path, _BG_DIR), partition_by=["part"])
    gone_ids = _gone_ids(spark, path)
    if gone_ids is not None:
        live = _table(spark, path, _DOCLOG_DIR).join(
            gone_ids, "doc_id", "left_anti"
        )
        swap_table(live, os.path.join(path, _DOCLOG_DIR), partition_by=["part"])
    return n_segs

"""At-rest BM25 inverted index with tombstoned deletes — the retrieval
family's maintenance story.

The from-scratch operator (operators/text.bm25_scores) re-derives
tf/df/doclen for the WHOLE corpus per call; at 100 TB the postings
build is the dominant cost and is per-document-stable.  This module
lays the postings down once and maintains them incrementally — the
Lucene lifecycle re-expressed relationally:

* **append** — new documents' postings are blind parquet appends into
  term-hash partitions (no old file read or rewritten) behind a
  first-seen id gate; corpus stats (N, Σdl) are EXACT integer counters
  in the meta sidecar, bumped by the delta's own aggregates.
* **delete** — a document's postings are scattered across term
  partitions (the classic inverted-index erasure problem), so
  deletion APPENDS the ids to a tombstone table (O(|Δ|), no postings
  rewrite) and serving anti-joins the (broadcast-small) tombstones;
  stats counters are decremented exactly.  This is deliberately the
  OPPOSITE trade to the LSH index's partition surgery
  (operators/lsh_index — id-hash layout, surgical rewrite): there the
  layout is keyed by the thing being deleted, here it is keyed by the
  thing being QUERIED, and the tombstone defers the rewrite to —
* **compact** — one full rewrite dropping tombstoned rows, clearing
  the tombstone table; run when the dead fraction crosses a policy
  threshold, exactly like segment merging.
* **serve** — query terms prune the postings read to their hash
  partitions (``min(|terms|, n_parts)`` directories of the index);
  df comes from the live matched postings, dl from the doclen table,
  N/avgdl from the meta counters, and the scoring core is the SAME
  expression object as the from-scratch operator
  (operators/text.bm25_scores_from_stats), so maintained serving is
  bit-equal to a rebuild over the survivors — which the registered
  queries' DuckDB oracles pin (queries/datapipe.py).

Layout under ``path/``::

    _bm25_meta.json      k1/b/n_parts + EXACT int counters
                         (n_docs, sum_dl) + corpus fingerprint
    postings/part=H/     (tok, doc_id, tf), H = pmod(xxhash64(tok))
    doclens/part=H/      (doc_id, dl),      H = pmod(xxhash64(doc_id))
    tombstones/          (doc_id,) append-only; absent when none

Erased ids are never reused (the tombstone suppresses any row with
that id until compaction; re-appending one is rejected by the
first-seen gate) — the standard contract for an append-only id space.

Engine-original module: the reference streaming job has no retrieval
surface; this extends the SURVEY §2 training-data-pipeline families
(hard-negative mining and RAG passage selection both serve from
exactly this index shape).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.functions.text import tokens
from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
    first_seen,
    index_meta,
    write_meta,
)
from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import top_k_per
from spark_streaming_kafka2elasticsearch_spark.operators.text import (
    bm25_scores_from_stats,
)
from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
    read_table,
    swap_table,
    write_table,
)

_BM25_META = "_bm25_meta.json"
_POST_DIR = "postings"
_DL_DIR = "doclens"
_TOMB_DIR = "tombstones"


def _tf_dl(docs: DataFrame, id_col: str, text_col: str, n_parts: int):
    """(tf-with-part, dl-with-part) for ``docs`` — one explode, two
    partial aggs (the bm25_scores plan), plus the layout hash keys."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    tf = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("part", F.pmod(F.xxhash64("tok"), F.lit(n_parts)))
    )
    dl = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .withColumn("part", F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)))
    )
    return tf, dl


def bm25_index_persist(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    n_parts: int = 16,
    fingerprint: str | None = None,
) -> None:
    """Build the at-rest inverted index (full overwrite): postings in
    term-hash partitions, doc lengths in id-hash partitions, exact
    integer corpus counters in the meta sidecar.  A previous build's
    tombstones are removed first, so they cannot erase documents of
    the new build.  ``n_parts`` is 16
    for the local test scale; a 100 TB corpus sets it in the
    thousands so a query touches a constant fraction of directories
    while each stays executor-sized."""
    shutil.rmtree(os.path.join(path, _TOMB_DIR), ignore_errors=True)
    tf, dl = _tf_dl(docs, id_col, text_col, n_parts)
    dl = dl.persist()
    tf.write.mode("overwrite").partitionBy("part").parquet(
        os.path.join(path, _POST_DIR)
    )
    dl.write.mode("overwrite").partitionBy("part").parquet(
        os.path.join(path, _DL_DIR)
    )
    row = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).first()
    dl.unpersist()
    write_meta(
        path,
        _BM25_META,
        {
            "k1": k1,
            "b": b,
            "n_parts": n_parts,
            "n_docs": int(row["n"] or 0),
            "sum_dl": int(row["s"] or 0),
            "fingerprint": fingerprint,
        },
    )


def _table(spark: SparkSession, path: str, sub: str) -> DataFrame | None:
    """One of the index's tables (``postings``, ``doclens``,
    ``tombstones``), read through :func:`read_table` so a compaction
    swap a crash interrupted is settled first; None when absent."""
    return read_table(spark, os.path.join(path, sub))


def _tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    tombs = _table(spark, path, _TOMB_DIR)
    return None if tombs is None else tombs.select("doc_id")


def bm25_index_append(
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    new_fingerprint: str | None = None,
) -> int:
    """Fold ``new_docs`` into the index — blind parquet appends into
    the existing hash partitions plus two exact counter bumps.
    Already-indexed AND previously-erased ids are dropped by the
    first-seen gate (a redelivered batch is a no-op; an erased id
    stays erased — the tombstone would suppress it anyway, so
    re-admitting it would corrupt the counters).  Returns the number
    of documents actually appended."""
    spark = new_docs.sparkSession
    meta = index_meta(path, _BM25_META)
    delta, n = first_seen(
        new_docs,
        id_col,
        _table(spark, path, _DL_DIR).select("doc_id"),
        _tombstones(spark, path),
    )
    if n:
        tf, dl = _tf_dl(delta, id_col, text_col, meta["n_parts"])
        dl = dl.persist()
        write_table(tf, os.path.join(path, _POST_DIR), ["part"], mode="append")
        write_table(dl, os.path.join(path, _DL_DIR), ["part"], mode="append")
        row = dl.agg(F.sum("dl").alias("s")).first()
        dl.unpersist()
        meta["n_docs"] += n
        meta["sum_dl"] += int(row["s"] or 0)
    if new_fingerprint is not None:
        meta["fingerprint"] = new_fingerprint
    if n or new_fingerprint is not None:
        write_meta(path, _BM25_META, meta)
    return n


def bm25_index_delete(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    new_fingerprint: str | None = None,
) -> int:
    """Erase documents: APPEND their ids to the tombstone table and
    decrement the counters by exactly the erased documents' lengths
    (read from the id-hash-pruned doclen partitions) — O(|Δ|) work,
    no postings rewrite.  Ids not live in the index (unknown, or
    already tombstoned) are dropped first, so a replayed delete is a
    no-op and the counters can never double-decrement.  Returns the
    number of documents actually erased."""
    meta = index_meta(path, _BM25_META)
    id_col = doc_ids.columns[0]
    dele = (
        doc_ids.select(F.col(id_col).alias("doc_id"))
        .dropDuplicates(["doc_id"])
        .localCheckpoint(eager=True)
    )
    # the dl lookup is id-hash partition-pruned, like the LSH delete:
    # the parts come from the deletion ids alone
    dparts = [
        int(r[0])
        for r in dele.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(meta["n_parts"]))
        )
        .distinct()
        .collect()
    ]
    doclens = _table(spark, path, _DL_DIR).filter(F.col("part").isin(dparts))
    tombs = _tombstones(spark, path)
    if tombs is not None:
        dele = dele.join(tombs, "doc_id", "left_anti")
    dele = dele.join(
        doclens.select("doc_id"), "doc_id", "left_semi"
    ).localCheckpoint(eager=True)
    n = dele.count()
    if n:
        row = dele.join(doclens, "doc_id").agg(
            F.sum("dl").alias("s")
        ).first()
        dele.write.mode("append").parquet(os.path.join(path, _TOMB_DIR))
        meta["n_docs"] -= n
        meta["sum_dl"] -= int(row["s"] or 0)
    if new_fingerprint is not None:
        meta["fingerprint"] = new_fingerprint
    if n or new_fingerprint is not None:
        write_meta(path, _BM25_META, meta)
    return n


def bm25_index_reconcile(spark: SparkSession, path: str) -> tuple[int, int]:
    """Recompute the meta counters from ground truth — ``n_docs`` and
    ``sum_dl`` are DERIVABLE (one column-pruned scan of the doclen
    table minus tombstones); the meta copy exists only so serving
    never pays that scan.  A crash between a maintenance append's
    parquet writes and its meta rewrite leaves the counters one batch
    stale; the streaming jobs call this at start (safe to run
    anytime), which squares them.  Returns the reconciled
    ``(n_docs, sum_dl)`` and rewrites the meta only when it drifted."""
    meta = index_meta(path, _BM25_META)
    dl = _table(spark, path, _DL_DIR).select("doc_id", "dl")
    tombs = _tombstones(spark, path)
    if tombs is not None:
        dl = dl.join(F.broadcast(tombs), "doc_id", "left_anti")
    row = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")).first()
    n_docs, sum_dl = int(row["n"] or 0), int(row["s"] or 0)
    if (meta["n_docs"], meta["sum_dl"]) != (n_docs, sum_dl):
        meta["n_docs"], meta["sum_dl"] = n_docs, sum_dl
        write_meta(path, _BM25_META, meta)
    return n_docs, sum_dl


def bm25_index_compact(spark: SparkSession, path: str) -> int:
    """Drop tombstoned rows from the layout and clear the tombstone
    table — the segment merge.  Returns the number of ids compacted
    away.  Each table is replaced whole through
    :func:`sources.writer.swap_table`, which lets the rewrite read the
    table it replaces and leaves no stale emptied partition behind; a
    crash leaves the old or the new table, and the tombstones are
    cleared only after both swaps, so a second compact finishes the
    job."""
    tombs = _tombstones(spark, path)
    if tombs is None:
        return 0
    tombs = tombs.localCheckpoint(eager=True)
    n = tombs.count()
    for sub in (_POST_DIR, _DL_DIR):
        live = _table(spark, path, sub).join(tombs, "doc_id", "left_anti")
        if sub == _POST_DIR:
            # fold away any replay-window duplicate rows (see the
            # serve-side dedup note) so the compacted layout equals a
            # fresh build exactly
            live = live.dropDuplicates(["doc_id", "tok"])
        swap_table(live, os.path.join(path, sub), partition_by=["part"])
    shutil.rmtree(os.path.join(path, _TOMB_DIR), ignore_errors=True)
    return n


def bm25_index_topk(
    spark: SparkSession,
    path: str,
    query_docs: DataFrame,
    k: int = 10,
    delta_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_doc_id",
    exclude_self: bool = True,
    expected_fingerprint: str | None = None,
) -> DataFrame:
    """BM25 top-k served FROM the at-rest index:
    ``(query_doc_id, doc_id, rank, score)``.

    Read shape: the query term set's hash values prune the postings
    scan to ``min(|terms|, n_parts)`` partition directories; matched
    postings are anti-joined against the (broadcast-small) tombstones;
    df is counted from the live matched rows (postings for a term are
    complete, so the count is the term's global live df); N and avgdl
    come from the meta counters — exact integers maintained by
    append/delete, so ``float(sum_dl)/float(n_docs)`` is the identical
    IEEE double the from-scratch operator derives.  Scoring runs
    through operators/text.bm25_scores_from_stats — the SAME
    expression object as bm25_scores — and ranking is one top-k cut
    (:func:`~.partitioning.top_k_per`: Catalyst's partial
    WindowGroupLimit lets only |partitions|·k·|queries| rows reach the
    global per-query sort).

    ``delta_docs`` is the FUNCTIONAL append (the knn_graph_append
    doctrine): the delta's postings/lengths are derived in-flight and
    unioned with the at-rest relations, and the counters are adjusted
    by the delta's own aggregates — serving what the corpus looks
    like after ``bm25_index_append`` lands, without mutating the
    layout.  Delta text work only; the indexed corpus never re-pays
    tokenization.  Caller contract: delta ids are disjoint from the
    index (the disk append's first-seen gate is not re-derived
    here)."""
    meta = index_meta(path, _BM25_META, expected_fingerprint)
    n_parts = meta["n_parts"]
    qterms = (
        query_docs.select(
            F.col(id_col).alias(query_id),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .distinct()
        .persist()
    )
    # ≤ n_parts distinct hash values — the broadcast-scalar idiom, what
    # turns the postings read into a partition-pruned directory subset
    qparts = [
        int(r[0])
        for r in qterms.select(
            F.pmod(F.xxhash64("tok"), F.lit(n_parts))
        )
        .distinct()
        .collect()
    ]
    postings = _table(spark, path, _POST_DIR).filter(
        F.col("part").isin(qparts)
    )
    tombs = _tombstones(spark, path)
    if tombs is not None:
        postings = postings.join(F.broadcast(tombs), "doc_id", "left_anti")
    doclen = _table(spark, path, _DL_DIR).select("doc_id", "dl")
    if tombs is not None:
        doclen = doclen.join(F.broadcast(tombs), "doc_id", "left_anti")
    tf = postings.select("doc_id", "tok", "tf")
    n_docs, sum_dl = meta["n_docs"], meta["sum_dl"]
    if delta_docs is not None:
        dtf, ddl = _tf_dl(delta_docs, id_col, text_col, n_parts)
        ddl = ddl.persist()
        tf = tf.unionByName(dtf.select("doc_id", "tok", "tf"))
        doclen = doclen.unionByName(ddl.select("doc_id", "dl"))
        row = ddl.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
        ).first()
        ddl.unpersist()
        n_docs += int(row["n"] or 0)
        sum_dl += int(row["s"] or 0)
    # matched postings for a term are its complete live posting list,
    # so this count is the term's global df over the served corpus.
    # The (doc_id, tok) dedup is the replay armor: a maintenance-
    # stream crash between the postings append and the doclen append
    # (the gate table) makes the replay re-append identical tf rows —
    # tokenization is deterministic, so collapsing duplicates here
    # restores exactly the once-appended relation, and the window
    # needs no stamp.  It runs on the pruned+matched subset only.
    tf = (
        tf.join(F.broadcast(qterms.select("tok").distinct()), "tok")
        .dropDuplicates(["doc_id", "tok"])
        .persist()
    )
    df_t = tf.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("df")
    )
    if n_docs <= 0:
        raise ValueError("BM25 index serves an empty corpus (n_docs == 0)")
    # A grouping-less aggregate over a one-partition range: the plan
    # then provably holds one row (plans.inspect), where a
    # createDataFrame row plans as an opaque RDD scan.
    stats = spark.range(1, numPartitions=1).agg(
        F.max(F.lit(float(n_docs))).alias("n_docs"),
        F.max(F.lit(float(sum_dl) / float(n_docs))).alias("avgdl"),
    )
    scored = bm25_scores_from_stats(
        tf,
        doclen,
        df_t,
        stats,
        qterms,
        k1=meta["k1"],
        b=meta["b"],
        id_col="doc_id",
        query_id=query_id,
    )
    if exclude_self:
        scored = scored.filter(F.col(query_id) != F.col("doc_id"))
    result = top_k_per(
        scored, [query_id], [F.desc("score_dec"), F.asc("doc_id")], k
    ).select(query_id, "doc_id", F.col("rank").cast("int").alias("rank"), "score")
    final = result.localCheckpoint(eager=True)
    qterms.unpersist()
    tf.unpersist()
    return final

"""At-rest MinHash-LSH dedup index with Δ-bounded maintenance.

The batch near-dup operators (operators/dedup.minhash_lsh_candidate_pairs)
recompute shingles + 64 hash functions for the WHOLE corpus every run —
correct, but at 100 TB the text-side signature job is the dominant cost
and it is the part that never changes for already-indexed documents.
This module gives the dedup family the same at-rest lifecycle the ANN
serving rungs got (operators/similarity: IVF/PQ/BQ/graph build +
append/refresh/delete): signatures and band keys are computed ONCE per
document, laid down in a partitioned parquet layout, and every later
operation touches only its delta.

Layout under ``path/``::

    _lsh_meta.json        params (k_shingle, num_hashes, bands,
                          hash_family, max_bucket_size, n_parts) +
                          corpus fingerprint — serving with a stale
                          fingerprint raises (the VectorIndex contract)
    signatures/part=H/    (doc_id, mh_0..mh_{n-1}) — one row per doc
    bands/part=H/         (doc_id, band_id, band_hash) — bands rows/doc

``part = pmod(xxhash64(doc_id), n_parts)`` — an id-hash partitioning,
NOT batch-of-arrival:

* **append** is a blind ``mode("append")`` write of the delta's rows
  into existing part directories — no read-modify-write, no rewrite of
  old files (new parquet files land beside old ones);
* **delete** computes the touched parts FROM THE IDS ALONE (the same
  xxhash64 is evaluated on the deletion set — no index scan), rewrites
  only those partitions via dynamic partition overwrite, and rmtree's
  any partition the rewrite emptied (the stale-file trap:
  ivf_persisted_delete's surgery).  Touched work is
  ``min(|Δ|, n_parts)/n_parts`` of the index, never the index.

``n_parts`` defaults to 16 for the local test scale; a 100 TB corpus
sets it in the thousands so each part directory stays executor-sized.
The band table is the COMPACT index — |docs|·bands fixed-width rows
(~100× smaller than the text) — so the pair/probe derivations below
scan it whole while the text is only ever touched for candidate
documents.

Maintenance is EXACT, not approximate: signature and band rows are
per-document deterministic (no trajectory, unlike NN-Descent), so the
union of per-delta computations is bit-equal to a full recompute, and
every derivation over the maintained table equals the rebuild — which
is exactly what the registered queries' DuckDB oracles check
(queries/datapipe.py) and the pytest pins assert
(tests/test_lsh_index.py).

Engine-original module: the reference streaming job
(bexley_spark_stream_msk_es.py) has no dedup surface; this extends the
SURVEY §2 training-data-pipeline families.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
    first_seen,
    index_meta,
    write_meta,
)
from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
    _band_relation,
    _banded_pair_jaccard,
    _candidate_overlap,
    _jaccard_pairs,
    _set_sizes,
    minhash_signatures_wide,
    shingle_relation,
)

_LSH_META = "_lsh_meta.json"
_SIG_DIR = "signatures"
_BAND_DIR = "bands"


def _part_col(id_col: str, n_parts: int):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts)).alias("part")


def _sig_and_bands(
    docs: DataFrame, meta: dict, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Signature + band relations for ``docs`` under ``meta``'s params,
    both carrying (doc_id, part) for the layout write.  Returns
    ``(staged, sig_out, bands_out)``: ``staged`` is the persisted
    signature boundary — it feeds two consumers (the signature write
    and the band derivation), and the CALLER unpersists it after both
    writes land (no leaked block-manager state, the r6 advisory)."""
    sig = minhash_signatures_wide(
        docs,
        id_col,
        text_col,
        k_shingle=meta["k_shingle"],
        num_hashes=meta["num_hashes"],
        hash_family=meta["hash_family"],
    ).persist()
    n_parts = meta["n_parts"]
    sig_out = sig.select(
        F.col("_id").alias("doc_id"),
        *[F.col(f"mh_{i}") for i in range(meta["num_hashes"])],
    ).withColumn("part", _part_col("doc_id", n_parts))
    bands_out = (
        _band_relation(sig, meta["num_hashes"], meta["bands"])
        .select(
            F.col("_id").alias("doc_id"), "band_id", "band_hash"
        )
        .withColumn("part", _part_col("doc_id", n_parts))
    )
    return sig, sig_out, bands_out


def minhash_lsh_persist(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "md5",
    max_bucket_size: int = 256,
    n_parts: int = 16,
    fingerprint: str | None = None,
) -> None:
    """Build the at-rest LSH index for ``docs`` (full overwrite).

    One text-side pass: explode + ``num_hashes`` codegen'd hash
    columns + min-agg (minhash_signatures_wide's plan), then the band
    derivation reuses the persisted signature boundary — the shingle
    job runs exactly once.  Defaults mirror the registered
    minhash_near_dup_pairs query (64 hashes × 16 bands, md5
    Kirsch–Mitzenmacher family) so the whole lifecycle stays
    DuckDB-oracle-checkable end to end."""
    meta = {
        "k_shingle": k_shingle,
        "num_hashes": num_hashes,
        "bands": bands,
        "hash_family": hash_family,
        "max_bucket_size": max_bucket_size,
        "n_parts": n_parts,
        "fingerprint": fingerprint,
    }
    staged, sig_out, bands_out = _sig_and_bands(docs, meta, id_col, text_col)
    sig_out.write.mode("overwrite").partitionBy("part").parquet(
        os.path.join(path, _SIG_DIR)
    )
    bands_out.write.mode("overwrite").partitionBy("part").parquet(
        os.path.join(path, _BAND_DIR)
    )
    staged.unpersist()
    write_meta(path, _LSH_META, meta)


def minhash_lsh_append(
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    new_fingerprint: str | None = None,
) -> int:
    """Fold ``new_docs`` into the at-rest index — the daily-increment
    primitive.  Returns the number of documents actually appended.

    Already-indexed ids are dropped by a FIRST-SEEN anti-join against
    the signature table's id column (a redelivered batch is a no-op —
    the knn_graph_append dedup doctrine), so replaying an append can
    never double a document's band rows and corrupt the census.  The
    text-side signature job runs over the SURVIVING DELTA ONLY; the
    write is a blind parquet append into the id-hash part directories
    (no old file is read or rewritten).  Appended rows are bit-equal
    to what a full rebuild would compute for those ids — signatures
    are per-document deterministic — so maintained index ≡ rebuilt
    index, the property the registered append query's oracle pins."""
    spark = new_docs.sparkSession
    meta = index_meta(path, _LSH_META)
    sig_dir = os.path.join(path, _SIG_DIR)
    delta, n = first_seen(
        new_docs, id_col, spark.read.parquet(sig_dir).select("doc_id")
    )
    if n:
        staged, sig_out, bands_out = _sig_and_bands(
            delta, meta, id_col, text_col
        )
        sig_out.write.mode("append").partitionBy("part").parquet(sig_dir)
        bands_out.write.mode("append").partitionBy("part").parquet(
            os.path.join(path, _BAND_DIR)
        )
        staged.unpersist()
    if new_fingerprint is not None:
        meta["fingerprint"] = new_fingerprint
        write_meta(path, _LSH_META, meta)
    return n


def minhash_lsh_delete(
    spark: SparkSession,
    path: str,
    doc_ids: DataFrame,
    new_fingerprint: str | None = None,
) -> list[int]:
    """Erase ``doc_ids`` (single column of ids) from the at-rest index
    — the GDPR primitive.  Returns the sorted list of part partitions
    that were touched.

    The touched parts are computed from the DELETION IDS alone (the
    same ``pmod(xxhash64(id), n_parts)`` the writer used — no index
    scan), so the read is partition-pruned to ``min(|Δ|, n_parts)``
    directories; each is rewritten without the deleted rows by
    :func:`sources.writer.erase_partitions`, which also removes a
    partition the rewrite EMPTIED (dynamic overwrite writes nothing
    for an absent partition, so its stale files would keep serving
    ghosts — the ivf_persisted_delete trap).  Unknown ids are
    harmless: their part is rewritten without change.  Post-delete derivations equal
    a rebuild over the survivors — band rows are independent per
    document, so removing a doc's rows is exactly what the rebuild
    never computes."""
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        erase_partitions,
    )

    meta = index_meta(path, _LSH_META)
    n_parts = meta["n_parts"]
    id_col = doc_ids.columns[0]
    dele = (
        doc_ids.select(F.col(id_col).alias("doc_id"))
        .dropDuplicates(["doc_id"])
        .withColumn("part", _part_col("doc_id", n_parts))
        .localCheckpoint(eager=True)
    )
    touched = sorted(
        int(r["part"]) for r in dele.select("part").distinct().collect()
    )
    if not touched:
        return []
    for sub in (_SIG_DIR, _BAND_DIR):
        subdir = os.path.join(path, sub)
        erase_partitions(
            spark.read.parquet(subdir),
            subdir,
            ["part"],
            touched,
            dele.select("doc_id"),
            "doc_id",
        )
    if new_fingerprint is not None:
        meta["fingerprint"] = new_fingerprint
        write_meta(path, _LSH_META, meta)
    return touched


def minhash_lsh_pairs(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.0,
    expected_fingerprint: str | None = None,
) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, jaccard)`` derived from the
    MAINTAINED band table — the reporting leg of the index lifecycle.

    Scan shape: the census (2..max_bucket_size partial-agg gate),
    bucket member lists, and pair expansion all run over the compact
    at-rest band table — |docs|·bands fixed-width rows, no text; the
    text in ``docs`` is touched only for CANDIDATE documents (semi-join
    before the shingle explode) to compute the exact-Jaccard verify,
    pair-restricted exactly as operators/dedup.minhash_lsh_candidate_
    pairs steps 3–5 (same census gate, same expansion, same verify
    algebra — bit-equal output when the band table matches a fresh
    banding, which the maintenance contract guarantees)."""
    meta = index_meta(path, _LSH_META, expected_fingerprint)
    banded = (
        spark.read.parquet(os.path.join(path, _BAND_DIR))
        .select(F.col("doc_id").alias("_id"), "band_id", "band_hash")
        .persist()
    )
    return _pairs_over_banded(
        banded, docs, meta, id_col, text_col, min_jaccard
    )


def minhash_lsh_pairs_with_delta(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    delta_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.0,
    expected_fingerprint: str | None = None,
) -> DataFrame:
    """FUNCTIONAL append + derive: near-dup pairs over the at-rest
    band table UNIONED with ``delta_docs``'s freshly computed bands —
    what the corpus looks like after :func:`minhash_lsh_append` lands,
    without mutating the layout (the knn_graph_append_serve doctrine:
    the repeatable timed path of the registered append query, while
    the disk-mutating append is pytest-pinned separately).

    The text-side signature job runs over the DELTA ONLY — that is the
    whole point of the index: at 100 TB the already-indexed corpus
    contributes |docs|·bands fixed-width rows read from parquet, and
    only the daily increment pays shingling + hashing.  ``docs`` (the
    post-append corpus, text side) is touched only for candidate
    documents in the pair-restricted exact verify."""
    meta = index_meta(path, _LSH_META, expected_fingerprint)
    at_rest = spark.read.parquet(os.path.join(path, _BAND_DIR)).select(
        F.col("doc_id").alias("_id"), "band_id", "band_hash"
    )
    dsig = minhash_signatures_wide(
        delta_docs,
        id_col,
        text_col,
        k_shingle=meta["k_shingle"],
        num_hashes=meta["num_hashes"],
        hash_family=meta["hash_family"],
    )
    dbands = _band_relation(dsig, meta["num_hashes"], meta["bands"])
    banded = at_rest.unionByName(dbands).persist()
    return _pairs_over_banded(
        banded, docs, meta, id_col, text_col, min_jaccard
    )


def _pairs_over_banded(
    banded: DataFrame,
    docs: DataFrame,
    meta: dict,
    id_col: str,
    text_col: str,
    min_jaccard: float,
) -> DataFrame:
    """operators/dedup._banded_pair_jaccard (steps 3–5 of
    minhash_lsh_candidate_pairs) over a ``(_id, band_id, band_hash)``
    relation, cut at ``min_jaccard`` — shared by the at-rest and
    functional-append derivations.  ``banded`` arrives
    persisted (two consumers: census and member join); released here
    with the other staged boundaries once the final is checkpointed."""
    result, staged = _banded_pair_jaccard(
        banded, docs, id_col, text_col, meta["k_shingle"], meta["max_bucket_size"]
    )
    final = result.filter(F.col("jaccard") >= min_jaccard).localCheckpoint(
        eager=True
    )
    for boundary in (banded, *staged):
        boundary.unpersist()
    return final


def minhash_lsh_probe(
    spark: SparkSession,
    path: str,
    query_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard: float = 0.0,
    expected_fingerprint: str | None = None,
) -> DataFrame:
    """Serve-time near-dup lookup ``(query_id, match_id, jaccard)``:
    incoming documents (NOT index members) probed against the at-rest
    index — what an ingest gate runs per batch at 100 TB.

    Per-query work is Δ-bounded: signatures + bands are computed for
    the QUERY batch only (the corpus side comes from the at-rest band
    table), the census gate is evaluated over INDEX members only —
    a hot boilerplate bucket is skipped before any member list
    materializes, and a probe landing in it reports no match there,
    matching the gate semantics of the batch operator — and the exact
    verify joins query shingles against MATCHED members' shingles
    only.  ``corpus_docs`` supplies the matched members' text (at
    rest this is the document store lookup; only candidate-match rows
    are read thanks to the semi-join below)."""
    meta = index_meta(path, _LSH_META, expected_fingerprint)
    qsig = minhash_signatures_wide(
        query_docs,
        id_col,
        text_col,
        k_shingle=meta["k_shingle"],
        num_hashes=meta["num_hashes"],
        hash_family=meta["hash_family"],
    )
    qbands = _band_relation(qsig, meta["num_hashes"], meta["bands"]).select(
        F.col("_id").alias("query_id"), "band_id", "band_hash"
    )
    banded = (
        spark.read.parquet(os.path.join(path, _BAND_DIR))
        .select(F.col("doc_id").alias("match_id"), "band_id", "band_hash")
        .persist()
    )
    ok_buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") <= meta["max_bucket_size"])
        .select("band_id", "band_hash")
    )
    cand = (
        qbands.join(ok_buckets, ["band_id", "band_hash"])
        .join(banded, ["band_id", "band_hash"])
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id")
        .distinct()
        .persist()
    )
    qrel = shingle_relation(
        query_docs.join(
            cand.select(F.col("query_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ),
        id_col,
        text_col,
        meta["k_shingle"],
    ).persist()
    mrel = shingle_relation(
        corpus_docs.join(
            cand.select(F.col("match_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ),
        id_col,
        text_col,
        meta["k_shingle"],
    ).persist()
    inter = _candidate_overlap(cand, qrel, mrel, "query_id", "match_id")
    result = _jaccard_pairs(
        inter, _set_sizes(qrel), _set_sizes(mrel), "query_id", "match_id"
    ).filter(F.col("jaccard") >= min_jaccard)
    final = result.localCheckpoint(eager=True)
    for staged in (banded, cand, qrel, mrel):
        staged.unpersist()
    return final

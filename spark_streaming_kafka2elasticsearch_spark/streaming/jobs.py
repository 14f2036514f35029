"""End-to-end streaming jobs — the reference's ``main()`` re-expressed.

``orders_enrichment_stream`` is the full pipeline DAG
(source → parse → curate → join dim → [sink]) over *any* source that
yields a ``value`` string column — Kafka in prod, a JSON directory in
tests — because every transform is a pure DataFrame function
(operators/curate.py).  This is the same linear DAG the reference
wires at ``bexley_spark_stream_msk_es.py:132-181``.

``windowed_orders_stats_stream`` is the (reference-disabled) tumbling
window path (``:441-458``): watermark → window+key groupBy → count.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators.curate import (
    cast_to_timestamp,
    curate_orders,
    parse_json_events,
)
from spark_streaming_kafka2elasticsearch_spark.operators.joins import enrich_stream_static
from spark_streaming_kafka2elasticsearch_spark.operators.windows import tumbling_window_agg
from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import start_batches


def orders_enrichment_stream(
    spark: SparkSession,
    source: Any,
    cities_dim: DataFrame,
    drop_malformed: bool = False,
    **source_kwargs: Any,
) -> DataFrame:
    """Unbounded curated+enriched orders frame, ready for a sink.

    ``source`` needs ``load_stream(spark, **kwargs)`` returning a
    DataFrame with a string ``value`` column (the Kafka envelope after
    P1, or a JsonDirSource in envelope mode).

    ``drop_malformed=False`` is reference parity: a bad JSON record
    flows to the sink as an all-null row whose ``data_key`` is ``''``
    (so in a keyed-upsert store all malformed rows collapse into one
    junk document — exactly what the reference's ES sink would do).
    Real deployments want ``True``.
    """
    raw = source.load_stream(spark, **source_kwargs)
    if dict(raw.dtypes).get("value") == "binary":
        raw = raw.selectExpr("CAST(value AS STRING) AS value")
    parsed = parse_json_events(raw, drop_malformed=drop_malformed)
    curated = curate_orders(parsed)
    return enrich_stream_static(
        curated, cities_dim, "ship_to_city_id", "city_id", cache_dim=True
    )


def windowed_orders_stats_stream(
    curated: DataFrame,
    ts_col: str = "order_date",
    watermark: str = "2 minutes",
    width: str = "2 minutes",
    key: str = "fufilment_type",
) -> DataFrame:
    """Watermarked tumbling-window order counts (A1–A3).

    Output schema matches the reference's windowed stats (FIXTURES.md
    F4): window struct, key, total_orders.  In append output mode only
    watermark-closed windows emit — the semantics the streaming tests
    pin down.
    """
    with_ts = cast_to_timestamp(curated, ts_col)
    return tumbling_window_agg(
        with_ts,
        ts_col=ts_col,
        width=width,
        keys=[key],
        aggs=[F.count("ship_method").alias("total_orders")],
        watermark=watermark,
    )


#: Envelope schemas (DDL), one per envelope kind, so an envelope
#: change cannot drift between the jobs that read it.
DOC_SCHEMA = "doc_id BIGINT, lang STRING, text STRING"
VEC_SCHEMA = "vec_id BIGINT, embedding ARRAY<DOUBLE>"


def _parse_envelope(spark: SparkSession, source: Any, schema: str) -> DataFrame:
    """The one envelope parse of every job below: the source's
    ``value`` JSON column (string or binary) → the columns of
    ``schema``."""
    return (
        source.load_stream(spark)
        .select(F.from_json(F.col("value").cast("string"), schema).alias("e"))
        .select("e.*")
    )


def _first_seen_docs(
    parsed: DataFrame,
    min_tokens: int,
    min_alpha_ratio: float,
    value_cols: list[str],
) -> DataFrame:
    """The exact-dup front-door stage: quality gate → canonical
    fingerprint → cross-batch first-seen dedup on the fingerprint
    (a watermark-free streaming ``dropDuplicates``), keeping
    ``value_cols``."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        document_fingerprint,
        text_quality,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.stateful import (
        streaming_first_seen,
    )

    quality = text_quality(parsed).filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("alpha_ratio") >= min_alpha_ratio)
    )
    return streaming_first_seen(
        document_fingerprint(quality), key_col="fingerprint", value_cols=value_cols
    )


def _near_dup_survivors(
    batch: DataFrame,
    corpus: DataFrame,
    min_jaccard: float,
    max_doc_freq: int | None,
) -> DataFrame:
    """The near-dup screen: ``batch`` documents with NO near-dup in the
    at-rest ``corpus`` at ``min_jaccard``."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        delta_corpus_jaccard_pairs,
    )

    hits = delta_corpus_jaccard_pairs(
        batch,
        corpus,
        id_col="doc_id",
        block_cols=["lang"],
        min_jaccard=min_jaccard,
        max_doc_freq=max_doc_freq,
    ).select(F.col("delta_id").alias("doc_id")).distinct()
    return batch.join(hits, "doc_id", "left_anti")


def _dsir_weights(weights: DataFrame, n_buckets: int) -> DataFrame:
    """Materialize the DSIR weight table once at gate setup and check
    its row count against ``n_buckets`` (see dsir_gate_stream)."""
    weights = weights.localCheckpoint(eager=True)
    n_w = weights.count()
    if n_w != n_buckets:
        raise ValueError(
            f"weight table has {n_w} rows but n_buckets={n_buckets}; "
            "the fit and the scorer must agree on the bucket count"
        )
    return weights


def _dsir_keep(
    batch: DataFrame, weights: DataFrame, n_buckets: int, min_logratio: float
) -> DataFrame:
    """The DSIR keep: ``batch`` documents scoring ``dsir_logratio ≥
    min_logratio``, with ``n_feats`` and ``dsir_logratio`` joined on;
    featureless documents have no score and never pass."""
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        dsir_score_with_weights,
    )

    scored = dsir_score_with_weights(
        batch, weights, id_col="doc_id", n_buckets=n_buckets
    )
    return batch.join(scored.filter(F.col("dsir_logratio") >= min_logratio), "doc_id")


def _clean_vec_ids(vecs: DataFrame, evals: DataFrame, threshold: float) -> DataFrame:
    """The semantic screen: ids of the ``(vec_id, embedding)`` rows no
    eval vector contaminates at ``threshold`` cosine."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        semantic_contamination_flags,
    )

    return (
        semantic_contamination_flags(vecs, evals, threshold=threshold)
        .filter(~F.col("is_contaminated"))
        .select("vec_id")
    )


def _doc_texts(
    spark: SparkSession, static_corpus: DataFrame | None, corpus_dir: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """The text store of a doc-id index stream: ``(doc_id, text)`` of
    ``static_corpus`` (the pre-stream text, or None) unioned with the
    landed ``corpus_dir`` zone, and that landed table itself.  Either
    is None when it does not exist."""
    import os

    landed = spark.read.parquet(corpus_dir) if os.path.isdir(corpus_dir) else None
    texts = static_corpus
    if landed is not None:
        landed_texts = landed.select("doc_id", "text")
        texts = landed_texts if texts is None else texts.unionByName(landed_texts)
    return texts, landed


def _erase_landed(
    landed: DataFrame, corpus_dir: str, doomed: DataFrame, id_col: str
) -> None:
    """Rewrite only the ``batch_id`` partitions of the landed corpus
    that hold a ``doomed`` id, without those ids."""
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        erase_partitions,
    )

    touched = {
        int(r["batch_id"])
        for r in landed.join(doomed, id_col, "left_semi")
        .select("batch_id")
        .distinct()
        .collect()
    }
    erase_partitions(landed, corpus_dir, ["batch_id"], touched, doomed, id_col)


def documents_ingest_stream(
    spark: SparkSession,
    source: Any,
    min_tokens: int = 5,
    min_alpha_ratio: float = 0.3,
) -> DataFrame:
    """Streaming corpus ingest — the LLM-data pipeline's front door,
    composed from the SAME batch operators the oracle-checked queries
    use (streaming = batch + state): parse document JSON → quality
    gate → canonical fingerprint → cross-batch first-seen dedup on the
    fingerprint (a watermark-free streaming dropDuplicates), emitting
    each distinct document exactly once no matter how often the
    transport redelivers it or how duplicates straddle micro-batches.

    Source contract: yields a ``value`` string column of JSON docs
    ``{doc_id, lang, text}`` (Kafka envelope in prod, JsonDirSource in
    tests).  Downstream: any keyed sink; the fingerprint IS the
    idempotency key.
    """
    return _first_seen_docs(
        _parse_envelope(spark, source, DOC_SCHEMA),
        min_tokens,
        min_alpha_ratio,
        ["doc_id", "lang", "n_tokens"],
    )


def near_dup_gate_stream(
    spark: SparkSession,
    source: Any,
    corpus: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    min_jaccard: float = 0.5,
    max_doc_freq: int | None = 50,
):
    """Streaming NEAR-dup ingestion gate: each arriving micro-batch is
    screened against the static at-rest ``corpus`` with the batch
    delta-vs-corpus operator (operators/dedup.delta_corpus_jaccard_pairs
    — asymmetric inverted index, corpus-side stop-shingle cap), and
    only documents with NO corpus near-dup at ``min_jaccard`` are
    appended to ``sink_dir`` as parquet.  The exact-dup gate
    (documents_ingest_stream) suppresses redeliveries; this one
    suppresses paraphrased/boilerplate-shifted re-crawls of content
    the corpus already holds — the other half of a crawl front door.

    Shape: ``foreachBatch`` — the engine's documented pattern for
    reusing batch relations per micro-batch (the same pattern the
    keyed-upsert sinks use, streaming/sinks.py).  The corpus side of
    the screen is re-derived per batch here; at 100 TB the corpus
    shingle postings and df-statistics are a maintained table the
    batch operator joins instead (its docstring covers that contract
    — the stream wiring is identical).  Parquet append in
    foreachBatch is at-least-once under retry; route survivors
    through the keyed-upsert sink for exactly-once delivery.

    Returns the started StreamingQuery (caller stops it).
    """

    def screen(batch: DataFrame, batch_id: int) -> None:
        _near_dup_survivors(batch, corpus, min_jaccard, max_doc_freq).write.mode(
            "append"
        ).parquet(sink_dir)

    return start_batches(
        _parse_envelope(spark, source, DOC_SCHEMA), screen, checkpoint_dir
    )


def lsh_gate_ingest_stream(
    spark: SparkSession,
    source: Any,
    index_path: str,
    checkpoint_dir: str,
    static_corpus: DataFrame | None = None,
    min_jaccard: float = 0.5,
):
    """Streaming near-dup ingestion gate over the AT-REST MinHash-LSH
    index (operators/lsh_index) — the maintained-table upgrade
    :func:`near_dup_gate_stream`'s docstring promises for 100 TB: the
    corpus side of the screen is never recomputed; each micro-batch
    pays shingling + hashing for its OWN documents only, probes the
    persisted band table, and the accepted survivors are folded back
    into the index so the next batch screens against them too.

    Per micro-batch: (1) first-seen gate — batch ids already in the
    index's signature table are dropped (a redelivered or duplicate
    document is a no-op; one column-pruned id scan); (2) probe the
    fresh documents against the index (census over index members,
    exact-Jaccard verify against matched members' text only); (3)
    documents with NO match at ``min_jaccard`` survive; (4) survivors'
    text lands in ``index_path/corpus/`` (batch_id-partitioned dynamic
    overwrite — the landed deduped corpus AND the verify text store
    for later probes); (5) survivors are appended to the index.
    Intra-batch near-dup pairs both land — the same contract as
    near_dup_gate_stream (the screen is batch-vs-corpus; exact dups
    within a batch are the upstream exact-dup gate's job).

    Crash-replay is idempotent WITHOUT a stamp, by write order: the
    corpus partition lands BEFORE the index append.  A crash between
    them replays into step 1 with the batch still absent from the
    index — identical hits recompute (the probe's match side is the
    index alone), the partition overwrite is idempotent, the append
    retries; a crash after the append replays into an empty fresh set
    and returns with everything already landed.  (Contrast
    descent_graph_erasure_stream, whose recompute is NOT
    redelivery-stable and therefore needs the ``_erase_batch_id``
    stamp.)

    ``static_corpus`` supplies (doc_id, text) for documents the index
    was BUILT over (their text predates the stream's landed zone);
    pass None when the index has no pre-stream text.  The caller
    persists the initial index (operators/lsh_index.minhash_lsh_persist)
    over a NON-EMPTY initial corpus before starting the stream (a
    zero-row partitioned parquet layout has no readable schema).

    Returns the started StreamingQuery (caller stops it)."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.lsh_index import (
        minhash_lsh_append,
        minhash_lsh_probe,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        overwrite_partitions,
    )

    corpus_dir = os.path.join(index_path, "corpus")
    sig_dir = os.path.join(index_path, "signatures")

    def screen(batch: DataFrame, batch_id: int) -> None:
        batch = batch.dropDuplicates(["doc_id"])
        if batch.isEmpty():
            return
        indexed_ids = spark.read.parquet(sig_dir).select("doc_id")
        fresh = batch.join(indexed_ids, "doc_id", "left_anti").localCheckpoint(
            eager=True
        )
        if fresh.isEmpty():
            return
        corpus_texts, _ = _doc_texts(spark, static_corpus, corpus_dir)
        if corpus_texts is not None:
            hits = (
                minhash_lsh_probe(
                    spark,
                    index_path,
                    fresh.select("doc_id", "text"),
                    corpus_texts,
                    min_jaccard=min_jaccard,
                )
                .select(F.col("query_id").alias("doc_id"))
                .distinct()
            )
            survivors = fresh.join(hits, "doc_id", "left_anti")
        else:
            survivors = fresh
        survivors = survivors.localCheckpoint(eager=True)
        if survivors.isEmpty():
            return
        overwrite_partitions(
            survivors.withColumn("batch_id", F.lit(int(batch_id))),
            corpus_dir,
            ["batch_id"],
        )
        minhash_lsh_append(index_path, survivors.select("doc_id", "text"))

    return start_batches(
        _parse_envelope(spark, source, DOC_SCHEMA), screen, checkpoint_dir
    )


def tokenize_ingest_stream(
    spark: SparkSession,
    source: Any,
    lexicon: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
):
    """Streaming TOKENIZE-on-ingest: each arriving micro-batch of
    documents is encoded against the static pre-trained BPE lexicon
    (the build-once artifact from operators/text.bpe_train
    ``emit="lexicon"``) and the subword sequences appended to
    ``sink_dir`` — the third gate of the crawl front door after
    exact-dup (documents_ingest_stream) and near-dup
    (near_dup_gate_stream): content that survives dedup lands already
    tokenized, so downstream packing/training never re-touches text.

    Shape: ``foreachBatch`` over the SAME batch encode operator the
    oracle-checked ``bpe_encode_documents`` query uses
    (operators/text.bpe_encode_with_lexicon) — streaming = batch per
    micro-batch, and the per-document groupBy is correct because each
    document arrives whole in one record.  The lexicon is the
    broadcast-small side by the vocabulary contract; at 100 TB it is a
    maintained table rebuilt on a training cadence, not per batch.
    Parquet append is at-least-once under retry; route through the
    keyed-upsert sink for exactly-once.

    Returns the started StreamingQuery (caller stops it).
    """

    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_encode_with_lexicon,
    )

    def encode(batch: DataFrame, batch_id: int) -> None:
        bpe_encode_with_lexicon(batch, lexicon).write.mode("append").parquet(
            sink_dir
        )

    return start_batches(
        _parse_envelope(spark, source, DOC_SCHEMA), encode, checkpoint_dir
    )


def dsir_gate_stream(
    spark: SparkSession,
    source: Any,
    weights: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    min_logratio: float = 0.0,
    n_buckets: int = 256,
):
    """Streaming DSIR domain-relevance gate — the fourth gate of the
    crawl front door after exact-dup (documents_ingest_stream),
    near-dup (near_dup_gate_stream) and tokenize
    (tokenize_ingest_stream): each arriving micro-batch of documents
    is importance-scored against the static fitted weight table
    (operators/text.dsir_fit_weights — the build-once B-row artifact)
    and only documents with ``dsir_logratio ≥ min_logratio`` land in
    ``sink_dir``, carrying their score.

    Shape: ``foreachBatch`` over the SAME batch scorer the
    oracle-checked ``dsir_importance_weights`` query uses
    (operators/text.dsir_score_with_weights) — streaming = batch per
    micro-batch, correct because a document's features never span
    records.  FEATURELESS documents (empty/whitespace-only text) have
    no defined score and never pass the gate regardless of
    ``min_logratio`` — by contract, not accident: a doc with zero
    tokens fails any downstream quality bar anyway, and emitting it
    with a fabricated score would poison the selection pool
    (pytest-pinned).  The weight table is MATERIALIZED once at gate
    setup (a lazy dsir_fit_weights relation would otherwise re-run the
    corpus-sized fit inside every micro-batch) and its row count must
    equal ``n_buckets`` — the scorer re-derives buckets from
    ``n_buckets``, and because the fit's spine is dense, a mismatched
    table would join cleanly and score every document against the
    WRONG model rows with no error; the count check turns that silent
    corruption into a ValueError.  At 100 TB the table is a maintained
    artifact refit on a curation cadence, not per batch.  Parquet
    append is at-least-once under retry; route through the
    keyed-upsert sink for exactly-once.

    Returns the started StreamingQuery (caller stops it).
    """
    weights = _dsir_weights(weights, n_buckets)

    def score_and_gate(batch: DataFrame, batch_id: int) -> None:
        _dsir_keep(batch, weights, n_buckets, min_logratio).select(
            "doc_id", "lang", "text", "n_feats", "dsir_logratio"
        ).write.mode("append").parquet(sink_dir)

    return start_batches(
        _parse_envelope(spark, source, DOC_SCHEMA), score_and_gate, checkpoint_dir
    )


def kn_perplexity_gate_stream(
    spark: SparkSession,
    source: Any,
    model: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    max_nll: float = 3.4,
):
    """Streaming Kneser–Ney PERPLEXITY gate — the LM-quality gate of
    the crawl front door (VERDICT r11 item 7), the CCNet recipe run
    the way production runs it: a bigram LM is fit ONCE on a curated
    corpus (operators/text.kn_bigram_model — the static artifact,
    like the DSIR weight table), and every arriving micro-batch of
    documents is scored under it (operators/text.kn_doc_scores);
    only documents with ``kn_nll ≤ max_nll`` (log-perplexity at most
    the threshold) land in ``sink_dir``, carrying score and OOV
    count.

    Shape: ``foreachBatch`` over the SAME batch scorer the
    oracle-green ``kn_perplexity_quality_gate`` query uses —
    streaming = batch per micro-batch (pytest-pinned), correct
    because a document's bigrams never span records.  OOV bigram
    instances (routine against a static model) are excluded from the
    sum and surfaced as ``n_oov``; documents with NO matched bigram
    (< 2 tokens, fully OOV, empty) have no defined perplexity and
    never pass the gate — the featureless-doc contract shared with
    the DSIR gate.  The model is MATERIALIZED at gate setup (a lazy
    kn_bigram_model relation would re-run the corpus-sized fit every
    micro-batch); at 100 TB it is refit on a curation cadence.
    Parquet append is at-least-once under retry; route through the
    keyed-upsert sink for exactly-once.

    Returns the started StreamingQuery (caller stops it).
    """
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        kn_doc_scores,
    )

    model = model.localCheckpoint(eager=True)
    if not model.take(1):
        raise ValueError(
            "empty KN model — fit kn_bigram_model on a non-trivial corpus"
        )

    def score_and_gate(batch: DataFrame, batch_id: int) -> None:
        scored = kn_doc_scores(batch, model, id_col="doc_id")
        kept = batch.join(
            scored.filter(F.col("kn_nll") <= max_nll), "doc_id"
        )
        kept.select(
            "doc_id", "lang", "text", "n_bigrams", "n_oov", "kn_nll"
        ).write.mode("append").parquet(sink_dir)

    return start_batches(
        _parse_envelope(spark, source, DOC_SCHEMA), score_and_gate, checkpoint_dir
    )


def semantic_decon_gate_stream(
    spark: SparkSession,
    source: Any,
    evals: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.99,
):
    """Streaming SEMANTIC-decontamination gate — the embedding leg of
    the crawl front door (VERDICT r8 item 5), completing the gate
    family after exact-dup (documents_ingest_stream), near-dup
    (near_dup_gate_stream), tokenize (tokenize_ingest_stream) and
    DSIR relevance (dsir_gate_stream): each arriving micro-batch of
    vectors is screened against the static benchmark/eval matrix with
    the SAME batch operator the oracle-checked
    ``semantic_decontamination`` query uses
    (operators/similarity.semantic_contamination_flags), and only
    vectors contaminated by NO eval vector at ``threshold`` cosine
    land in ``sink_dir``.

    Shape: ``foreachBatch``; streaming = batch per micro-batch,
    correct because a vector never spans records and the screen is
    per-vector (no cross-batch state needed — contamination is
    against the STATIC eval matrix, not against other stream rows).
    The eval matrix is MATERIALIZED once at gate setup (a lazy
    relation would re-derive it inside every micro-batch) and is
    broadcast-small by the benchmark-suite contract.  Parquet append
    is at-least-once under retry; route through the keyed-upsert sink
    for exactly-once.

    Returns the started StreamingQuery (caller stops it).
    """
    evals = evals.localCheckpoint(eager=True)

    def screen(batch: DataFrame, batch_id: int) -> None:
        clean = _clean_vec_ids(batch, evals, threshold)
        batch.join(clean, "vec_id", "left_semi").write.mode("append").parquet(
            sink_dir
        )

    return start_batches(
        _parse_envelope(spark, source, VEC_SCHEMA), screen, checkpoint_dir
    )


def ivf_index_maintenance_stream(
    spark: SparkSession,
    source: Any,
    centroids: DataFrame,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming IVF index maintenance — the continuous-ingestion twin
    of the batch ``ivf_persisted_append``: each arriving micro-batch
    of embedding vectors is assigned to its coarse cell with the SAME
    bit-exact quantizer the batch build uses and APPENDED into the
    existing cell-partitioned layout, so a serving query sees new
    vectors within one trigger interval and, by assignment
    determinism, the stream-maintained index is row-identical to a
    batch rebuild over everything ingested so far (pinned in
    tests/test_streaming.py).

    Shape: ``foreachBatch`` calling the batch operator per micro-batch
    (streaming = batch by construction, the gate-family rule).  The
    centroid table is collected once at setup — maintenance must NOT
    retrain the quantizer, or appended vectors would land in different
    cells than the base build (the codebook is versioned separately;
    re-clustering is a rebuild, not maintenance).

    Replay-idempotent (ADVICE r10): each micro-batch lands in its own
    ``(cell, batch_id)`` subpartitions via dynamic partition overwrite
    — foreachBatch is at-least-once, and a retried batch (same
    batch_id, Spark's checkpoint contract) OVERWRITES its own
    partitions instead of duplicating vectors into served top-k.  The
    base layout must therefore be built with
    ``ivf_persisted_topk(..., batch_id=-1)`` (two-level layout;
    serving still prunes on the top-level cell).

    Returns the started StreamingQuery (caller stops it)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivf_persisted_append,
    )

    cents = centroids.localCheckpoint(eager=True)

    def append(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        ivf_persisted_append(batch, cents, index_path, batch_id=batch_id)

    return start_batches(
        _parse_envelope(spark, source, VEC_SCHEMA), append, checkpoint_dir
    )


def knn_graph_maintenance_stream(
    spark: SparkSession,
    source: Any,
    centroids: DataFrame,
    graph_path: str,
    checkpoint_dir: str,
    k: int = 5,
    n_probe: int = 2,
):
    """Streaming kNN-GRAPH maintenance — the continuous-ingestion twin
    of the batch ``knn_graph_append`` (VERDICT r11 item 4's optional
    streaming leg): each arriving micro-batch of vectors is merged
    into the at-rest quantizer-structured graph, and by the top-k
    merge property the maintained graph is BIT-EQUAL to a full
    rebuild over everything ingested so far (pinned in
    tests/test_streaming.py across ≥2 micro-batches — the
    ivf_index_maintenance_stream contract lifted to the edge
    relation).

    Layout under ``graph_path``: ``corpus/`` (the ingested vectors,
    ``batch_id``-partitioned, dynamically overwritten) and ``edges/``
    (the current edge list, replaced per batch through
    sources/writer.swap_table, so a crash leaves the old or the new
    edge list and the replay reads whichever landed — edges are a
    DERIVED relation whose rows change on append, unlike the
    append-only IVF cells).  Starts from EMPTY: the first batch's
    graph is a plain :func:`knn_graph` build.

    Replay idempotency is carried by the id ANTI-JOIN, not by
    partition overwrite alone: a redelivered vector id is dropped
    before the merge (appending the same vector twice would put its
    id in a node's top-k twice — exactly the double-count the
    first-seen gate prevents for attribution pairs), so a retried
    micro-batch is a no-op once its vectors have landed, and a crash
    between the edge rewrite and the corpus landing is repaired on
    replay (edges recompute identically from the un-landed delta).
    The quantizer is pinned at setup — maintenance must never retrain
    it (the ivf_index_maintenance_stream rule).

    Returns the started StreamingQuery (caller stops it)."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        knn_graph,
        knn_graph_append,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        overwrite_partitions,
        read_table,
        swap_table,
    )

    cents = centroids.localCheckpoint(eager=True)
    corpus_dir = os.path.join(graph_path, "corpus")
    edges_dir = os.path.join(graph_path, "edges")

    def maintain(batch: DataFrame, batch_id: int) -> None:
        batch = batch.dropDuplicates(["vec_id"])
        if batch.isEmpty():
            return
        have = os.path.isdir(corpus_dir)
        if have:
            corpus = spark.read.parquet(corpus_dir).select(
                "vec_id", "embedding"
            )
            delta = batch.join(
                corpus.select("vec_id"), "vec_id", "left_anti"
            ).localCheckpoint(eager=True)
        else:
            delta = batch.localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        if have:
            old_edges = read_table(spark, edges_dir).select("src", "dst")
            new_edges = knn_graph_append(
                corpus, delta, cents, old_edges, k=k, n_probe=n_probe
            )
        else:
            new_edges = knn_graph(delta, cents, k=k, n_probe=n_probe)
        # the append plan reads the edge files it replaces; the swap
        # stages the new edges before either rename
        swap_table(new_edges, edges_dir)
        overwrite_partitions(
            delta.withColumn("batch_id", F.lit(batch_id)),
            corpus_dir,
            ["batch_id"],
        )

    return start_batches(
        _parse_envelope(spark, source, VEC_SCHEMA), maintain, checkpoint_dir
    )


def descent_graph_maintenance_stream(
    spark: SparkSession,
    source: Any,
    graph_path: str,
    checkpoint_dir: str,
    k: int = 16,
    k_build: int = 30,
    build_rounds: int = 3,
    refresh_rounds: int = 2,
    occupancy: int = 32,
    ring: int = 2,
    dim: int = 64,
):
    """Streaming maintenance for the NN-DESCENT graph — the
    continuous-ingestion twin of the batch
    :func:`operators.similarity.nn_descent_refresh` (VERDICT r12
    item 4's optional streaming leg): the first micro-batch lays the
    graph down with a full descent build, every later batch folds its
    vectors in with the BOUNDED-DELTA refresh (seed into the SRP
    buckets, merge into the touched nodes' lists, fixed rounds over
    the touched subgraph) instead of rebuilding.

    Same layout and idempotency story as
    :func:`knn_graph_maintenance_stream` — ``corpus/``
    batch_id-partitioned, ``edges/`` swapped in whole, and the
    first-seen id ANTI-JOIN making a redelivered batch a no-op — plus
    a ``_batch_id`` stamp ON the edge rows (ADVICE r13): edges land
    BEFORE the corpus partition, so a crash between the two would
    otherwise make the replay refresh with old_edges that already
    contain the delta (violating :func:`nn_descent_refresh`'s
    precondition); a replay whose edge stamp is already current skips
    the refresh and just lands the missing corpus partition —
    but the equality contract is necessarily weaker: the refresh is
    trajectory-dependent, so the pin (tests/test_streaming.py) is
    streamed-maintenance ≡ the SEQUENTIAL batch refreshes over the
    same splits (bit-equal), with refresh-vs-rebuild recall ≥ 0.9
    carried by the operator's own pin.  The id ring only fires for
    contiguous-id deltas (sparse ids: ring candidates miss the
    corpus join and drop out — harmless), matching the operator's
    documented contract.

    Returns the started StreamingQuery (caller stops it)."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_graph,
        nn_descent_refresh,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        overwrite_partitions,
        read_table,
        swap_table,
    )

    corpus_dir = os.path.join(graph_path, "corpus")
    edges_dir = os.path.join(graph_path, "edges")

    def maintain(batch: DataFrame, batch_id: int) -> None:
        batch = batch.dropDuplicates(["vec_id"])
        if batch.isEmpty():
            return
        have = os.path.isdir(corpus_dir)
        if have:
            old_corpus = spark.read.parquet(corpus_dir).select(
                "vec_id", "embedding"
            )
            delta = batch.join(
                old_corpus.select("vec_id"), "vec_id", "left_anti"
            ).localCheckpoint(eager=True)
        else:
            delta = batch.localCheckpoint(eager=True)
        if delta.isEmpty():
            return
        if have:
            old_raw = read_table(spark, edges_dir)
            # Replay guard (ADVICE r13): the edge rewrite lands BEFORE
            # the corpus partition, so a crash between the two leaves
            # edges one batch AHEAD of the corpus.  Edges carry the
            # batch_id that produced them; a replayed batch whose stamp
            # is already current must NOT refresh again — old_edges
            # would contain the delta ids, violating
            # nn_descent_refresh's precondition — it just lands the
            # missing corpus partition and the pair reconciles.
            if "_batch_id" in old_raw.columns:
                applied = old_raw.agg(
                    F.max("_batch_id").alias("b")
                ).first()["b"]
                if applied is not None and int(applied) >= int(batch_id):
                    overwrite_partitions(
                        delta.withColumn("batch_id", F.lit(batch_id)),
                        corpus_dir,
                        ["batch_id"],
                    )
                    return
            old_edges = old_raw.select("src", "dst", "rank")
            full = old_corpus.union(delta.select("vec_id", "embedding"))
            new_edges = nn_descent_refresh(
                old_edges,
                full,
                delta,
                k=k,
                k_build=k_build,
                dim=dim,
                rounds=refresh_rounds,
                occupancy=occupancy,
                ring=ring,
            )
        else:
            new_edges = nn_descent_graph(
                delta,
                k=k,
                k_build=k_build,
                dim=dim,
                rounds=build_rounds,
                occupancy=occupancy,
                ring=ring,
            )
        # The _batch_id stamp travels atomically WITH the edge rows —
        # that is what makes the replay guard above crash-safe (a
        # marker file written separately would reopen the window).
        swap_table(
            new_edges.select("src", "dst", "rank").withColumn(
                "_batch_id", F.lit(int(batch_id))
            ),
            edges_dir,
        )
        overwrite_partitions(
            delta.withColumn("batch_id", F.lit(batch_id)),
            corpus_dir,
            ["batch_id"],
        )

    return start_batches(
        _parse_envelope(spark, source, VEC_SCHEMA), maintain, checkpoint_dir
    )


def descent_graph_erasure_stream(
    spark: SparkSession,
    source: Any,
    graph_path: str,
    checkpoint_dir: str,
    k: int = 16,
    k_build: int = 30,
    dim: int = 64,
    occupancy: int = 32,
    rounds: int = 1,
):
    """Streaming ERASURE for the at-rest NN-Descent graph — GDPR
    deletion requests arriving as a stream (``{"vec_id": N}``
    envelopes), the erasure twin of
    :func:`descent_graph_maintenance_stream` and the streaming leg of
    operators/similarity.nn_descent_delete (VERDICT r13 item 4).
    Each micro-batch of ids is tombstoned out of the layout the
    maintenance stream writes (``corpus/`` batch_id-partitioned,
    ``edges/`` stamped): deleted sources drop, touched sources
    re-rank against survivors, untouched rows carry verbatim — then
    ONLY the corpus partitions containing a deleted id are rewritten
    (sources/writer.erase_partitions, the surgery ivf_persisted_delete
    uses too).

    Replay idempotency: ids already absent from the corpus are
    dropped by an anti-join (a redelivered or unknown id is a no-op),
    and an ``_erase_batch_id`` stamp on the edge rows closes the
    edges-before-corpus crash window exactly as the maintenance
    stream's ``_batch_id`` does — a replay whose stamp is current
    skips the graph recompute and just finishes the corpus surgery.
    The stamp column is WRITER-SCOPED on purpose: both streams'
    micro-batch sequences start at 0 from their own checkpoint, so
    guarding the first erasure batch against the ingest stream's
    ``_batch_id=0`` stamp would silently skip the delete (the bug the
    bit-equality test below caught).  The streamed result is pinned
    BIT-EQUAL to the sequential batch deletes over the same splits
    (tests/test_streaming.py).

    Single-writer contract: at most one maintenance OR erasure stream
    per graph directory at a time; each rewrite carries only its own
    writer's stamp, so switching writers resets the other's replay
    guard to the safe recompute path.  The descent structure is
    trajectory-dependent, so concurrently interleaving writers is a
    rebuild, not a merge.

    Returns the started StreamingQuery (caller stops it)."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        nn_descent_delete,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        read_table,
        swap_table,
    )

    corpus_dir = os.path.join(graph_path, "corpus")
    edges_dir = os.path.join(graph_path, "edges")

    def erase(batch: DataFrame, batch_id: int) -> None:
        batch = batch.dropDuplicates(["vec_id"])
        if batch.isEmpty() or not os.path.isdir(corpus_dir):
            return
        corpus = spark.read.parquet(corpus_dir)
        dele = (
            batch.join(corpus.select("vec_id"), "vec_id", "left_semi")
            .localCheckpoint(eager=True)
        )
        if dele.isEmpty():
            return
        survivors = corpus.select("vec_id", "embedding").join(
            dele, "vec_id", "left_anti"
        )
        old_raw = read_table(spark, edges_dir)
        applied = None
        if "_erase_batch_id" in old_raw.columns:
            applied = old_raw.agg(
                F.max("_erase_batch_id").alias("b")
            ).first()["b"]
        if applied is None or int(applied) < int(batch_id):
            new_edges = nn_descent_delete(
                old_raw.select("src", "dst", "rank"),
                survivors,
                dele,
                k=k,
                k_build=k_build,
                dim=dim,
                rounds=rounds,
                occupancy=occupancy,
            )
            swap_table(
                new_edges.select("src", "dst", "rank").withColumn(
                    "_erase_batch_id", F.lit(int(batch_id))
                ),
                edges_dir,
            )
        # corpus surgery AFTER the stamped edge rewrite (the crash
        # window then replays into the stamp-guard above): only the
        # batch_id partitions holding a deleted id are rewritten
        _erase_landed(corpus, corpus_dir, dele, "vec_id")

    return start_batches(
        _parse_envelope(spark, source, "vec_id BIGINT"), erase, checkpoint_dir
    )


def bm25_index_maintenance_stream(
    spark: SparkSession,
    source: Any,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming maintenance for the at-rest BM25 inverted index
    (operators/bm25_index): each micro-batch of document envelopes
    ``{doc_id, lang, text}`` is folded in with
    :func:`bm25_index_append` — delta-only tokenization, blind
    parquet appends into the term-hash partitions, exact counter
    bumps.  Replay idempotency needs no stamp; the three crash
    windows each have a structural answer (pinned in
    tests/test_streaming.py):

    * redelivered completed batch — the append's first-seen gate
      (doclen ∪ tombstone anti-join) drops every id: no-op;
    * crash between the postings append and the doclen append (the
      gate table) — the replay re-appends IDENTICAL tf rows
      (tokenization is deterministic) and the serve path's
      (doc_id, tok) dedup collapses them, so the double-append is
      invisible downstream and compaction folds it away at rest;
    * crash after both appends but before the meta rewrite — the
      counters run one batch stale; :func:`bm25_index_reconcile`
      recomputes them from the doclen table (they are derivable
      ground truth — the meta copy only spares serving the scan) and
      is called here at every stream start.

    The caller persists the initial index over a NON-EMPTY corpus
    before starting (zero-row partitioned parquet has no readable
    schema).  Returns the started StreamingQuery."""
    from spark_streaming_kafka2elasticsearch_spark.operators.bm25_index import (
        bm25_index_append,
        bm25_index_reconcile,
    )

    parsed = _parse_envelope(spark, source, DOC_SCHEMA)
    bm25_index_reconcile(spark, index_path)

    def fold(batch: DataFrame, batch_id: int) -> None:
        batch = batch.dropDuplicates(["doc_id"])
        if batch.isEmpty():
            return
        bm25_index_append(index_path, batch.select("doc_id", "text"))

    return start_batches(parsed, fold, checkpoint_dir)


def bm25_index_erasure_stream(
    spark: SparkSession,
    source: Any,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming GDPR erasure for the at-rest BM25 index — deletion
    requests as ``{"doc_id": N}`` envelopes, the erasure twin of
    :func:`bm25_index_maintenance_stream`.  Each batch runs
    :func:`bm25_index_delete`: an O(|Δ|) tombstone append plus exact
    counter decrements, no postings rewrite (compaction is a separate
    batch maintenance window).  Naturally idempotent — a redelivered
    or unknown id anti-joins the tombstone/doclen tables to nothing,
    so counters can never double-decrement — with the same
    meta-lands-last crash window as the maintenance stream: the
    reconcile-at-start call (which also subtracts tombstoned rows)
    squares the counters before new batches flow.

    Returns the started StreamingQuery."""
    from spark_streaming_kafka2elasticsearch_spark.operators.bm25_index import (
        bm25_index_delete,
        bm25_index_reconcile,
    )

    parsed = _parse_envelope(spark, source, "doc_id BIGINT")
    bm25_index_reconcile(spark, index_path)

    def erase(batch: DataFrame, batch_id: int) -> None:
        batch = batch.dropDuplicates(["doc_id"])
        if batch.isEmpty():
            return
        bm25_index_delete(spark, index_path, batch.select("doc_id"))

    return start_batches(parsed, erase, checkpoint_dir)


def kn_lm_index_maintenance_stream(
    spark: SparkSession,
    source: Any,
    index_path: str,
    checkpoint_dir: str,
):
    """Streaming maintenance for the at-rest bigram-LM count index
    (operators/lm_index): each micro-batch of ``{doc_id, lang, text}``
    envelopes is folded in as one count segment
    (:func:`kn_index_append` — delta-only text scan, blind parquet
    add) and its text lands in ``index_path/corpus/``
    (batch_id-partitioned dynamic overwrite) so the erasure stream
    can look erased documents' text back up.  Replay idempotency is
    structural twice over: the doclog/removed first-seen gate drops
    redelivered ids, and a crash between the segment write and the
    doclog write replays into an IDENTICAL deterministic ``_seg``
    that the merge dedups — counts can never double.  The corpus
    partition overwrite is idempotent by keying.

    The caller persists the initial index over a NON-EMPTY corpus
    before starting.  Returns the started StreamingQuery."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.lm_index import (
        kn_index_append,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        overwrite_partitions,
    )

    corpus_dir = os.path.join(index_path, "corpus")

    def fold(batch: DataFrame, batch_id: int) -> None:
        batch = batch.dropDuplicates(["doc_id"]).localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        # One landed copy per doc: a LATER batch redelivering an
        # already-landed document must not land it in a second
        # partition (the erasure semi-join would then see duplicate
        # text rows and double-negate its counts).  Keyed by the
        # landed corpus itself, and landed BEFORE the index append so
        # every crash window replays cleanly (partition overwrite is
        # idempotent; the append's own gates handle the rest).
        fresh = batch.select("doc_id", "text")
        if os.path.isdir(corpus_dir):
            fresh = fresh.join(
                spark.read.parquet(corpus_dir).select("doc_id"),
                "doc_id",
                "left_anti",
            )
        fresh = fresh.localCheckpoint(eager=True)
        if not fresh.isEmpty():
            overwrite_partitions(
                fresh.withColumn("batch_id", F.lit(int(batch_id))),
                corpus_dir,
                ["batch_id"],
            )
        kn_index_append(index_path, batch.select("doc_id", "text"))

    return start_batches(
        _parse_envelope(spark, source, DOC_SCHEMA), fold, checkpoint_dir
    )


def kn_lm_index_erasure_stream(
    spark: SparkSession,
    source: Any,
    index_path: str,
    checkpoint_dir: str,
    static_corpus: DataFrame | None = None,
):
    """Streaming GDPR erasure for the at-rest bigram-LM count index —
    ``{"doc_id": N}`` envelopes, the erasure twin of
    :func:`kn_lm_index_maintenance_stream`.  Deletion needs the
    documents' TEXT (the negated count segment is computed from it),
    so each batch's ids are joined back to the text stores FIRST —
    the stream's own landed ``corpus/`` partitions plus the optional
    ``static_corpus`` for documents indexed before the stream — then
    :func:`kn_index_delete` appends the negative segment, and LAST
    the landed corpus partitions holding the erased ids are
    surgically rewritten (sources/writer.erase_partitions) so the
    text itself is gone.  That ordering is the GDPR
    ordering — read, negate, then destroy — and makes replay safe:
    the removed-table gate turns a redelivered id into a count no-op,
    while the corpus surgery (idempotent by keying) always re-runs to
    completion, closing the negate-landed/text-not-yet-destroyed
    crash window.  Unknown ids no-op at every step.

    Returns the started StreamingQuery."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.lm_index import (
        kn_index_delete,
    )

    corpus_dir = os.path.join(index_path, "corpus")

    def erase(batch: DataFrame, batch_id: int) -> None:
        batch = batch.dropDuplicates(["doc_id"]).localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        corpus_texts, landed = _doc_texts(spark, static_corpus, corpus_dir)
        if corpus_texts is None:
            return
        # dropDuplicates: a doc present in more than one text store
        # (static + landed, or any landed duplication) must negate its
        # counts exactly once
        gone = corpus_texts.join(batch, "doc_id", "left_semi").dropDuplicates(
            ["doc_id"]
        )
        kn_index_delete(index_path, gone)
        if landed is None:
            return
        _erase_landed(landed, corpus_dir, batch, "doc_id")

    return start_batches(
        _parse_envelope(spark, source, "doc_id BIGINT"), erase, checkpoint_dir
    )


def front_door_stream(
    spark: SparkSession,
    source: Any,
    corpus: DataFrame,
    lexicon: DataFrame,
    weights: DataFrame,
    doc_embeddings: DataFrame,
    evals: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    min_tokens: int = 5,
    min_alpha_ratio: float = 0.3,
    min_jaccard: float = 0.5,
    max_doc_freq: int | None = 50,
    min_logratio: float = 0.0,
    n_buckets: int = 256,
    threshold: float = 0.99,
    ivf_index_path: str | None = None,
    ivf_centroids: DataFrame | None = None,
):
    """The COMPLETE crawl front door: all five ingestion gates chained
    over ONE document stream (VERDICT r9 item 7) — the integration the
    gate family exists for.  Per arriving document, in order:

    1. **quality + exact-dup** — the ``documents_ingest_stream`` leg:
       quality gate, canonical fingerprint, cross-batch first-seen
       dedup (streaming ``dropDuplicates``; the ONE stateful stage, so
       it runs stream-side, before the per-batch gates).
    2. **near-dup** — ``delta_corpus_jaccard_pairs`` against the
       static at-rest ``corpus`` (the ``near_dup_gate_stream`` leg).
    3. **DSIR relevance** — score against the fitted ``weights`` table,
       keep ``dsir_logratio ≥ min_logratio``; featureless docs never
       pass (the ``dsir_gate_stream`` leg, same setup count-check).
    4. **semantic decontamination** — the survivor's embedding (looked
       up in the static ``doc_embeddings`` table keyed by ``doc_id`` —
       the deterministic stand-in for the embedding service a real
       ingest calls; docs WITHOUT an embedding row fail CLOSED, since
       an unverifiable doc cannot be proven clean) screened against
       the ``evals`` matrix (the ``semantic_decon_gate_stream`` leg).
    5. **tokenize** — survivors encoded against the pre-trained BPE
       ``lexicon`` (the ``tokenize_ingest_stream`` leg).

    Survivor documents land in ``{sink_dir}/docs`` (with their DSIR
    score), their subword encodings in ``{sink_dir}/tokens``.  Gates
    2–5 are stateless per-document screens against static artifacts,
    so they compose inside ONE ``foreachBatch`` — one micro-batch
    pass, no intermediate landing zones — and the composed kept-set
    provably equals running the batch operators over the union of all
    batches (pytest-pinned across ≥2 micro-batches).  At 100 TB each
    static artifact (corpus postings, lexicon, weight table, eval
    matrix, embeddings) is a maintained table on its own refresh
    cadence; the stream wiring here is unchanged.

    **Replay-idempotent landing (ADVICE r10)**: both sinks are
    ``batch_id``-partitioned and written via dynamic partition
    overwrite — foreachBatch is at-least-once, and a retried
    micro-batch (same batch_id, Spark's checkpoint contract)
    overwrites exactly its own partition in BOTH sinks instead of
    double-appending; a crash between the two writes is repaired by
    the replay for the same reason, and the sinks reconcile by
    batch_id.

    **Index maintenance composition (VERDICT r10 item 8)**: when
    ``ivf_index_path``/``ivf_centroids`` are given, each batch's
    SURVIVORS' embeddings are additionally appended into the served
    IVF layout inside the same ``foreachBatch`` (the
    ivf_index_maintenance_stream leg, same ``(cell, batch_id)``
    idempotent overwrite) — the full front door: gate, land, AND make
    searchable within one trigger.  The layout must be pre-built with
    ``ivf_persisted_topk(..., batch_id=-1)``.

    Returns the started StreamingQuery (caller stops it).
    """
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_encode_with_lexicon,
    )

    # Static artifacts materialize ONCE at gate setup (the dsir_gate /
    # semantic_gate discipline): a lazy relation would re-derive them
    # inside every micro-batch.
    weights = _dsir_weights(weights, n_buckets)
    evals = evals.localCheckpoint(eager=True)
    doc_embeddings = doc_embeddings.localCheckpoint(eager=True)
    if (ivf_index_path is None) != (ivf_centroids is None):
        raise ValueError(
            "ivf_index_path and ivf_centroids must be given together"
        )
    if ivf_centroids is not None:
        ivf_centroids = ivf_centroids.localCheckpoint(eager=True)

    deduped = _first_seen_docs(
        _parse_envelope(spark, source, DOC_SCHEMA),
        min_tokens,
        min_alpha_ratio,
        ["doc_id", "lang", "text", "n_tokens"],
    )

    def gates(batch: DataFrame, batch_id: int) -> None:
        survivors = _near_dup_survivors(batch, corpus, min_jaccard, max_doc_freq)
        survivors = _dsir_keep(survivors, weights, n_buckets, min_logratio)
        # semantic decontamination (fail closed on missing embedding)
        vecs = survivors.select("doc_id").join(doc_embeddings, "doc_id").select(
            F.col("doc_id").alias("vec_id"), "embedding"
        )
        clean = _clean_vec_ids(vecs, evals, threshold).select(
            F.col("vec_id").alias("doc_id")
        )
        survivors = survivors.join(clean, "doc_id", "left_semi")
        # land survivors + their tokenization, replay-idempotently:
        # each sink is batch_id-partitioned and dynamically
        # overwritten, so an at-least-once retry of this micro-batch
        # replaces its own partition in both sinks (never
        # double-appends), and a crash between the two writes is
        # repaired by the replay.
        from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
            overwrite_partitions,
        )

        survivors = survivors.localCheckpoint(eager=True)
        overwrite_partitions(
            survivors.select(
                "doc_id", "lang", "text", "n_tokens", "dsir_logratio"
            ).withColumn("batch_id", F.lit(batch_id)),
            os.path.join(sink_dir, "docs"),
            ["batch_id"],
        )
        overwrite_partitions(
            bpe_encode_with_lexicon(survivors, lexicon).withColumn(
                "batch_id", F.lit(batch_id)
            ),
            os.path.join(sink_dir, "tokens"),
            ["batch_id"],
        )
        if ivf_index_path is not None:
            # make this batch's survivors SEARCHABLE: assign their
            # embeddings with the serving quantizer and land them in
            # the index's (cell, batch_id) subpartitions — the
            # ivf_index_maintenance_stream leg composed in-line.
            from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
                ivf_persisted_append,
            )

            surv_vecs = (
                survivors.select("doc_id")
                .join(doc_embeddings, "doc_id")
                .select(F.col("doc_id").alias("vec_id"), "embedding")
            )
            ivf_persisted_append(
                surv_vecs, ivf_centroids, ivf_index_path, batch_id=batch_id
            )

    return start_batches(deduped, gates, checkpoint_dir)


def gated_attribution_stream(
    spark: SparkSession,
    events_source: Any,
    sink_dir: str,
    checkpoint_dir: str,
    window: str = "30 minutes",
):
    """Front-door gates COMPOSED with interval-join attribution in one
    job (VERDICT r11 item 8): a single raw event stream is screened —
    validity (non-null user/timestamp, known event_type) plus
    cross-batch FIRST-SEEN dedup on ``event_id`` (the stateful
    exact-dup front-door leg, a streaming ``dropDuplicates``) — and each
    micro-batch of survivors is attributed against EVERYTHING that
    survived before it, inside the same ``foreachBatch``.

    The incremental join identity that makes streaming ≡ batch: with
    P/C the gated purchase/click sets and Δ the current batch,

        Δoutput = ΔP ⋈ C_≤now  ∪  P_<now ⋈ ΔC

    counts every qualifying (purchase, click) pair EXACTLY once —
    a pair lands in the batch where its LATER side arrived — so the
    union of all Δoutputs equals the oracle-checked batch interval
    join (queries/extended.click_purchase_attribution) over the union
    of survivors (pytest-pinned across ≥2 micro-batches).  Exactness
    leans on the dedup gate: a replayed event_id would double-count
    pairs, so the first-seen screen is load-bearing, not decorative.

    Replay idempotency (the front_door_stream discipline): survivors
    land under ``{sink_dir}/events`` and attribution pairs under
    ``{sink_dir}/attribution``, both ``batch_id``-partitioned and
    dynamically overwritten — an at-least-once retry replaces its own
    partitions (the prior-batch state it reads back is unchanged), so
    at-least-once × idempotent overwrite = effectively-once.

    State at 100 TB: the landed event zone is the join state, bounded
    by retention policy on the ``batch_id`` partitions (the watermark
    analog of the native stream-stream twin, attribution_stream —
    with the interval bound, partitions older than the window can
    stop participating in the Δ join; kept simple here by joining the
    full landed zone).  Returns the started StreamingQuery.
    """
    import os

    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        overwrite_partitions,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.stateful import (
        streaming_first_seen,
    )

    parsed = _parse_envelope(
        spark,
        events_source,
        "event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT",
    )
    valid = parsed.filter(
        F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("ts_us").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    survivors = streaming_first_seen(
        valid, key_col="event_id", value_cols=["user_id", "event_type", "ts_us"]
    )
    events_dir = os.path.join(sink_dir, "events")
    attr_dir = os.path.join(sink_dir, "attribution")
    win_us = _interval_to_us(window)

    def attribute(batch: DataFrame, batch_id: int) -> None:
        batch = batch.localCheckpoint(eager=True)
        overwrite_partitions(
            batch.withColumn("batch_id", F.lit(batch_id)),
            events_dir,
            ["batch_id"],
        )
        landed = spark.read.parquet(events_dir)
        prev = landed.filter(F.col("batch_id") < batch_id)
        upto = landed.filter(F.col("batch_id") <= batch_id)

        def _p(df: DataFrame) -> DataFrame:
            return df.filter(F.col("event_type") == "purchase").select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts_us").alias("p_us"),
            )

        def _c(df: DataFrame) -> DataFrame:
            return df.filter(F.col("event_type") == "click").select(
                F.col("user_id").alias("c_user"),
                F.col("event_id").alias("click_id"),
                F.col("ts_us").alias("c_us"),
            )

        def _join(p: DataFrame, c: DataFrame) -> DataFrame:
            return (
                p.join(
                    c,
                    (p.user_id == c.c_user)
                    & (c.c_us >= p.p_us - F.lit(win_us))
                    & (c.c_us < p.p_us),
                )
                .select(
                    "purchase_id",
                    "user_id",
                    "click_id",
                    F.expr("(p_us - c_us) div 1000000").alias("secs_before"),
                )
            )

        delta_out = _join(_p(batch), _c(upto)).union(
            _join(_p(prev), _c(batch))
        )
        overwrite_partitions(
            delta_out.withColumn("batch_id", F.lit(batch_id)),
            attr_dir,
            ["batch_id"],
        )

    return start_batches(survivors, attribute, checkpoint_dir)


_INTERVAL_UNITS_US = {
    "second": 1_000_000,
    "seconds": 1_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
    "day": 86_400_000_000,
    "days": 86_400_000_000,
}


def _interval_to_us(window: str) -> int:
    """``"30 minutes"`` → microseconds — the single-unit subset of
    Spark's interval grammar the attribution jobs accept.  Rejections
    name the supported grammar (ADVICE r12): the old bare
    KeyError/ValueError at stream start gave callers no indication of
    what ``window`` may contain."""
    parts = window.split()
    supported = ", ".join(sorted(set(_INTERVAL_UNITS_US)))
    # parts[0].isdigit() (no lstrip) also rejects negative quantities:
    # '-30 minutes' would otherwise flow negative microseconds into
    # watermark/window arithmetic (ADVICE r13).
    if len(parts) != 2 or not parts[0].isdigit() or int(parts[0]) < 1:
        raise ValueError(
            f"unsupported interval {window!r}: expected '<positive int> "
            f"<unit>' with unit one of {supported} (compound intervals "
            "like '1 day 2 hours' are not supported here — pre-convert "
            "to a single unit)"
        )
    qty, unit = parts
    if unit not in _INTERVAL_UNITS_US:
        raise ValueError(
            f"unsupported interval unit {unit!r} in {window!r}: "
            f"expected one of {supported}"
        )
    return int(qty) * _INTERVAL_UNITS_US[unit]


def attribution_stream(
    spark: SparkSession,
    clicks_source: Any,
    purchases_source: Any,
    window: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """STREAM–STREAM inner join: click→purchase attribution, the
    two-unbounded-sides upgrade of the reference's stream–static
    enrichment (bexley_spark_stream_msk_es.py's single join is stream
    vs a bounded dim; here BOTH sides arrive as streams).  Each
    purchase matches every click by the same user in the preceding
    ``window``.

    The mechanics that make this state-bounded at scale: both sides
    carry watermarks, and the join condition includes the event-time
    band ``p.ts - window <= c.ts < p.ts`` — Spark derives from it the
    state-eviction rule (a buffered click older than the watermark
    minus the band can never match a future purchase and is dropped;
    likewise purchase state).  Without the time bound a stream-stream
    join buffers FOREVER — the classic unbounded-state trap.  Inner
    join results emit as soon as both sides have arrived (the
    watermark gates eviction, not emission), so output is incremental.

    ``how="left_outer"`` (purchases side preserved) adds the
    conversion-without-attribution rows: a purchase whose click never
    arrives emits with NULL click columns — but only once the
    watermark passes the end of its match window (earlier emission
    could be contradicted by a late click), so outer results are
    watermark-DELAYED where inner results are immediate.  That is the
    semantics Spark documents for outer stream-stream joins, and the
    pytest pins it: the null row appears only after a later event
    advances the watermark.

    Output schema matches the oracle-checked batch twin
    (queries/extended.click_purchase_attribution): (purchase_id,
    user_id, click_id, secs_before) — a pytest pins streaming ≡ batch
    over multi-file replays.
    """
    def parse(source: Any) -> DataFrame:
        return _parse_envelope(
            spark, source, "event_id BIGINT, user_id BIGINT, ts_us BIGINT"
        ).withColumn("ts", F.timestamp_micros(F.col("ts_us")))

    clicks = (
        parse(clicks_source)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts_us").alias("c_us"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", window)
    )
    purchases = (
        parse(purchases_source)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts_us").alias("p_us"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", window)
    )
    joined = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (clicks.c_ts >= purchases.p_ts - F.expr(f"INTERVAL {window}"))
        & (clicks.c_ts < purchases.p_ts),
        how,
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.expr("(p_us - c_us) div 1000000").alias("secs_before"),
    )

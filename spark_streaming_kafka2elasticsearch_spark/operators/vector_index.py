"""``VectorIndex`` — the one front door to the ANN serving family.

The engine's vector-search surface grew operator by operator (persisted
IVF, append maintenance, compaction, IVFADC/PQ/SQ8 quantized serving,
refine, filtered, range, diversified).  Each is an independently
oracle-checked function in :mod:`operators.similarity`; this facade
binds them to ONE index directory so the lifecycle reads the way an
operator of a 100 TB corpus thinks about it::

    idx = VectorIndex(path, fingerprint=data_fingerprint(src))
    idx.build(corpus, centroids)            # one corpus scan, at rest
    idx.build_bq(corpus)                    # packed 1-bit codes at rest
    idx.build_graph(corpus)                 # NN-Descent edges at rest
    idx.append(delta)                       # daily increment (IVF cells)
    idx.delete(erased_ids)                  # GDPR erasure (touched cells only)
    idx.refresh_graph(new_corpus, delta)    # bounded-delta graph refresh
    idx.delete_graph(survivors, erased_ids) # Δ-bounded graph erasure
    idx.compact()                           # bound small files
    idx.search(queries, k=10, n_probe=2)    # pruned top-k
    idx.search(queries, method="bq")        # XOR+popcount over codes
    idx.search(queries, method="bq_refine") # Hamming shortlist + exact
    idx.search(queries, method="graph")     # greedy beam over edges
    idx.range_search(queries, threshold=.3) # all above tau
    idx.filtered_search(queries, "lang = 'en'", k=10)
    idx.diverse_search(queries, k=10, per_cell=3)

Everything delegates verbatim to the tested operators — the facade
adds NO new dataflow (a pytest pins method-for-method equality with
the direct calls), only the binding of path + quantizer + fingerprint
that every call otherwise repeats.  After ``build``, the quantizer is
AT REST with the index (operators/artifacts), so a fresh session can
construct ``VectorIndex(path)`` and serve immediately: ``centroids``
are loaded from the artifact, never retrained.

Scale notes live on the delegated operators; the one facade-level
contract is that ALL serving methods read the same cell-partitioned
layout, so build-once-serve-many holds across every access path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from spark_streaming_kafka2elasticsearch_spark.operators import similarity as _sim


class VectorIndex:
    """A persisted, cell-partitioned vector index bound to one
    directory.  ``fingerprint`` (optional) stamps builds and guards
    loads — see :mod:`operators.artifacts`."""

    def __init__(
        self,
        path: str,
        fingerprint: str | None = None,
        corpus_id: str = "vec_id",
        corpus_vec: str = "embedding",
        query_id: str = "query_id",
        query_vec: str = "query_embedding",
    ) -> None:
        self.path = path
        self.fingerprint = fingerprint
        self._cols = dict(
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
            query_id=query_id,
            query_vec=query_vec,
        )
        self._centroids: DataFrame | None = None

    # -- lifecycle ---------------------------------------------------------

    def build(self, corpus: DataFrame, centroids: DataFrame) -> "VectorIndex":
        """Assign + lay down the cell-partitioned layout and persist
        the quantizer at rest (one corpus scan)."""
        _sim.ivf_persisted_topk(
            corpus,
            corpus.limit(0).select(
                corpus[self._cols["corpus_id"]].alias(self._cols["query_id"]),
                corpus[self._cols["corpus_vec"]].alias(self._cols["query_vec"]),
            ),
            centroids,
            self.path,
            k=1,
            corpus_id=self._cols["corpus_id"],
            corpus_vec=self._cols["corpus_vec"],
            query_id=self._cols["query_id"],
            query_vec=self._cols["query_vec"],
            rebuild=True,
            fingerprint=self.fingerprint,
        )
        self._centroids = centroids
        return self

    def append(self, delta: DataFrame, batch_id: int | None = None) -> None:
        """Incremental maintenance: assign the delta with the SAME
        at-rest quantizer and append (``batch_id`` selects the
        replay-idempotent two-level layout)."""
        _sim.ivf_persisted_append(
            delta,
            self._centroid_df(delta),
            self.path,
            corpus_id=self._cols["corpus_id"],
            corpus_vec=self._cols["corpus_vec"],
            batch_id=batch_id,
        )

    def delete(
        self, deleted_ids: DataFrame, new_fingerprint: str | None = None
    ) -> list:
        """Erase ids from the cell-partitioned layout (operators/
        similarity.ivf_persisted_delete): only the cells containing a
        deleted id are rewritten, an emptied cell's directory is
        removed, and the post-delete serve is bit-equal to a rebuild
        over the surviving corpus.  ``new_fingerprint`` restamps the
        at-rest quantizer so the mutated layout serves under a
        fingerprint describing the post-delete corpus — the same
        semantics as ``delete_bq``/``append_bq`` (ADVICE r13)."""
        touched = _sim.ivf_persisted_delete(
            deleted_ids,
            self.path,
            spark=deleted_ids.sparkSession,
            id_col=self._cols["corpus_id"],
            new_fingerprint=new_fingerprint,
        )
        if new_fingerprint is not None:
            self.fingerprint = new_fingerprint
        return touched

    def compact(
        self, max_files_per_cell: int = 4, target_files_per_cell: int = 1
    ) -> list:
        """Rewrite oversized cell directories (dynamic partition
        overwrite); serving is hash-equal before and after."""
        from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
            compact_partitions,
        )

        spark = (self._centroids or self._load_centroids_df()).sparkSession
        return compact_partitions(
            spark,
            self.path,
            "cell",
            max_files_per_partition=max_files_per_cell,
            target_files_per_partition=target_files_per_cell,
        )

    def build_bq(self, corpus: DataFrame, dim: int = 64) -> DataFrame:
        """Lay the packed 1-bit sign codes down at rest
        (``<path>/_bq`` — VERDICT r11 item 5): one codegen'd encode
        scan, after which ``search(method='bq'|'bq_refine')`` serves
        from the stored d/8-byte codes in a fresh session."""
        return _sim.bq_persist_codes(
            corpus,
            self.path,
            dim=dim,
            corpus_id=self._cols["corpus_id"],
            corpus_vec=self._cols["corpus_vec"],
            fingerprint=self.fingerprint,
            rebuild=True,
        )

    def append_bq(
        self, delta: DataFrame, new_fingerprint: str | None = None
    ) -> None:
        """Append the delta's packed sign codes to the at-rest BQ
        layout (encoding is training-free and per-row deterministic,
        so the maintained codes are byte-equal to a full re-encode)."""
        _sim.bq_persist_append(
            delta,
            self.path,
            corpus_id=self._cols["corpus_id"],
            corpus_vec=self._cols["corpus_vec"],
            new_fingerprint=new_fingerprint,
        )
        if new_fingerprint is not None:
            self.fingerprint = new_fingerprint

    def delete_bq(
        self, deleted_ids: DataFrame, new_fingerprint: str | None = None
    ) -> None:
        """Erase ids from the at-rest BQ codes (full rewrite of the
        d/8-byte payload — the unpartitioned layout's cheap pass)."""
        _sim.bq_persist_delete(
            deleted_ids,
            self.path,
            spark=deleted_ids.sparkSession,
            id_col=self._cols["corpus_id"],
            new_fingerprint=new_fingerprint,
        )
        if new_fingerprint is not None:
            self.fingerprint = new_fingerprint

    def build_graph(
        self,
        corpus: DataFrame,
        k: int = 16,
        k_build: int = 30,
        rounds: int = 3,
        occupancy: int = 32,
        ring: int = 2,
        dim: int = 64,
    ) -> DataFrame:
        """Build the at-rest NN-Descent edge list (``<path>/_graph``)
        for graph-ANN beam serving (``search(method='graph')``)."""
        return _sim.knn_graph_persist(
            corpus,
            self.path,
            k=k,
            k_build=k_build,
            rounds=rounds,
            occupancy=occupancy,
            ring=ring,
            dim=dim,
            corpus_id=self._cols["corpus_id"],
            corpus_vec=self._cols["corpus_vec"],
            fingerprint=self.fingerprint,
            rebuild=True,
        )

    def refresh_graph(
        self,
        corpus: DataFrame,
        delta: DataFrame,
        rounds: int = 2,
        new_fingerprint: str | None = None,
    ) -> DataFrame:
        """Fold ``delta`` into the at-rest NN-Descent edge list with
        the BOUNDED-DELTA refresh (operators/similarity.
        nn_descent_refresh) instead of a rebuild: stored edges are
        read, refreshed (build params come back from the meta
        sidecar) and swapped in, then the meta is re-stamped
        (``new_fingerprint`` should describe ``corpus`` AFTER the
        delta, so subsequent serves validate against the refreshed
        state).  ``corpus`` is the FULL updated relation."""
        return self._rewrite_graph(
            corpus.sparkSession,
            lambda old_edges, params: _sim.nn_descent_refresh(
                old_edges,
                corpus,
                delta,
                k=params.get("k", 16),
                k_build=params.get("k_build", 30),
                dim=params.get("dim", 64),
                rounds=rounds,
                occupancy=params.get("occupancy", 32),
                ring=params.get("ring", 2),
                corpus_id=self._cols["corpus_id"],
                corpus_vec=self._cols["corpus_vec"],
            ),
            new_fingerprint,
        )

    def delete_graph(
        self,
        corpus_new: DataFrame,
        deleted_ids: DataFrame,
        rounds: int = 1,
        new_fingerprint: str | None = None,
    ) -> DataFrame:
        """Erase ids from the at-rest NN-Descent edge list with the
        Δ-bounded delete (operators/similarity.nn_descent_delete —
        the last maintenance-matrix corner, VERDICT r13 item 4)
        instead of a rebuild: stored edges are read (build params
        from the meta sidecar), deleted sources tombstoned, touched
        sources re-ranked against their surviving lists ∪ SRP-bucket
        mates with ``rounds`` touched-restricted descent rounds, and
        the result swapped in with the meta re-stamped.
        ``corpus_new`` is the corpus AFTER the deletion."""
        return self._rewrite_graph(
            corpus_new.sparkSession,
            lambda old_edges, params: _sim.nn_descent_delete(
                old_edges,
                corpus_new,
                deleted_ids,
                k=params.get("k", 16),
                k_build=params.get("k_build", 30),
                dim=params.get("dim", 64),
                rounds=rounds,
                occupancy=params.get("occupancy", 32),
                corpus_id=self._cols["corpus_id"],
                corpus_vec=self._cols["corpus_vec"],
                id_col=self._cols["corpus_id"],
            ),
            new_fingerprint,
        )

    def _rewrite_graph(self, spark, maintain, new_fingerprint):
        """Replace the at-rest edge list with ``maintain(old_edges,
        build_params)`` through :func:`sources.writer.swap_table` (the
        new edges may read the old ones; a crash leaves the old or the
        new edge list, never none), then re-stamp the sidecar.  A
        crash between the two leaves the new edges under the old
        fingerprint, so a serve that expects the new one refuses."""
        import os

        from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
            index_meta,
            write_meta,
        )
        from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
            read_table,
            swap_table,
        )

        meta = index_meta(self.path, _sim._GRAPH_META)
        old_edges = _sim.knn_graph_persist(
            None, self.path, fingerprint=self.fingerprint, spark=spark
        ).select("src", "dst", "rank")
        graph_dir = os.path.join(self.path, _sim._GRAPH_DIR)
        swap_table(maintain(old_edges, meta.get("params", {})), graph_dir)
        if new_fingerprint is not None:
            meta["fingerprint"] = new_fingerprint
            self.fingerprint = new_fingerprint
            write_meta(self.path, _sim._GRAPH_META, meta)
        return read_table(spark, graph_dir)

    # -- serving -----------------------------------------------------------

    def search(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 1,
        method: str = "ivf",
        dim: int = 64,
        shortlist: int = 50,
        beam: int = 8,
        rounds: int = 3,
        entry_mode: str = "bucket",
        predicate: "Column | str | None" = None,
        attrs: list[str] | None = None,
    ) -> DataFrame:
        """Top-k from the at-rest layout.  ``method`` selects the
        serving rung bound to this index directory:

        * ``"ivf"`` (default) — cell-pruned exact scan (multi-probe
          dial ``n_probe``);
        * ``"bq"`` — XOR+popcount Hamming over the stored packed
          codes (``build_bq`` first);
        * ``"bq_refine"`` — Hamming ``shortlist`` from the stored
          codes, exact-cosine re-rank of only those rows;
        * ``"graph"`` — greedy beam search over the stored NN-Descent
          edge list (``build_graph`` first; ``beam``/``rounds``
          dials; ``entry_mode="bucket_argmax"`` scores the query's
          SRP bucket and enters at the argmax — the hierarchical
          entry; ``predicate``+``attrs`` restrict the ANSWER window
          while traversal navigates through non-matching nodes — the
          filtered-HNSW idiom).

        Every rung reads ITS artifact from the same directory — the
        facade-vs-direct equality pytest covers all four."""
        if method == "ivf":
            return _sim.ivf_persisted_topk(
                corpus,
                queries,
                self._centroids,
                self.path,
                k=k,
                n_probe=n_probe,
                rebuild=False,
                fingerprint=self.fingerprint,
                **self._cols,
            )
        if method in ("bq", "bq_refine"):
            codes = _sim.bq_persist_codes(
                None,
                self.path,
                dim=dim,
                fingerprint=self.fingerprint,
                spark=corpus.sparkSession,
            )
            if method == "bq":
                return _sim.bq_hamming_topk(
                    corpus,
                    queries,
                    k=k,
                    dim=dim,
                    corpus_codes=codes,
                    **self._cols,
                )
            return _sim.bq_refine_topk(
                corpus,
                queries,
                k=k,
                shortlist=shortlist,
                dim=dim,
                corpus_codes=codes,
                **self._cols,
            )
        if method == "graph":
            edges = _sim.knn_graph_persist(
                None,
                self.path,
                fingerprint=self.fingerprint,
                spark=corpus.sparkSession,
            )
            return _sim.graph_beam_topk(
                edges,
                corpus,
                queries,
                k=k,
                beam=beam,
                rounds=rounds,
                dim=dim,
                entry_mode=entry_mode,
                predicate=predicate,
                attrs=attrs,
                **self._cols,
            )
        raise ValueError(f"unknown search method {method!r}")

    def range_search(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        threshold: float,
        n_probe: int = 2,
    ) -> DataFrame:
        """All neighbors with cosine ≥ threshold within probed cells."""
        return _sim.ivf_range_search(
            corpus,
            queries,
            self._centroids,
            self.path,
            threshold=threshold,
            n_probe=n_probe,
            rebuild=False,
            fingerprint=self.fingerprint,
            **self._cols,
        )

    def filtered_search(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        predicate: Column | str,
        k: int = 10,
        n_probe: int = 2,
        attrs: list[str] | None = None,
    ) -> DataFrame:
        """Pre-filtered top-k (metadata predicate pushed into the
        pruned scan).  The layout must have been built via
        :func:`operators.similarity.ivf_filtered_topk`'s build leg (or
        this method's ``rebuild`` path) so the ``attrs`` columns are
        at rest; plain :meth:`build` layouts carry no attrs."""
        return _sim.ivf_filtered_topk(
            corpus,
            queries,
            self._centroids,
            self.path,
            predicate,
            k=k,
            n_probe=n_probe,
            attrs=attrs,
            rebuild=False,
            fingerprint=self.fingerprint,
            **self._cols,
        )

    def diverse_search(
        self,
        corpus: DataFrame,
        queries: DataFrame,
        k: int = 10,
        per_cell: int = 3,
        n_probe: int = 4,
    ) -> DataFrame:
        """Quota-diversified top-k (≤ per_cell answers per cell)."""
        return _sim.ivf_diverse_topk(
            corpus,
            queries,
            self._centroids,
            self.path,
            k=k,
            per_cell=per_cell,
            n_probe=n_probe,
            rebuild=False,
            fingerprint=self.fingerprint,
            **self._cols,
        )

    # -- internals ---------------------------------------------------------

    def _centroid_df(self, like: DataFrame) -> DataFrame:
        """The centroid table: the one given at build time, else the
        at-rest artifact (fresh session)."""
        if self._centroids is not None:
            return self._centroids
        return self._load_centroids_df(like.sparkSession)

    def _load_centroids_df(self, spark=None):
        import pyarrow as pa
        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        crows = _sim._quantizer_rows(
            None, self.path, False, self.fingerprint,
            "centroid_id", "centroid_vec", "VectorIndex",
        )
        df = spark.createDataFrame(
            pa.table(
                {
                    "centroid_id": [int(c) for c, _ in crows],
                    "centroid_vec": [[float(x) for x in v] for _, v in crows],
                }
            ),
            "centroid_id long, centroid_vec array<double>",
        )
        self._centroids = df
        return df

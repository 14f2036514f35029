"""Scale probe for the heavy dedup/similarity tail (VERDICT r2 item 6).

The census caps (max_bucket_size), df-caps (max_doc_freq), and
broadcast-side designs claim SUB-QUADRATIC growth in corpus size.
This harness measures it: the sf0.1 corpus is scaled 3x and 10x by
replication that changes CONTENT, not workload character —

* documents: replica r deterministically SHUFFLES each doc's token
  sequence (sort by hash(doc_id, position, r)), so a replica keeps its
  source's token multiset but destroys adjacency → almost no shared
  3-gram shingles, replicas are NOT near-dups of their source or of
  each other, and the corpus-wide dup-rate stays ~constant while
  |docs| grows (naive x10 copy would instead create 10-cliques of
  exact dups everywhere — a different, dedup-degenerate workload;
  mere token ROTATION fails too: it preserves adjacency, so replicas
  share ~98% of shingles — measured before switching to the shuffle);
* embeddings: replica r rolls each vector's components by r → same
  norm, decorrelated direction.

Each probe query then runs at 1x / 3x / 10x with the noop sink and the
growth exponent alpha = log(t10/t1)/log(10) is reported; alpha ~ 1 is
linear, alpha >= 2 would mean a quadratic shape survived the caps.

Usage: python tools/scale_probe.py [--rebuild]
Writes SCALE_PROBE.json at the repo root; scaled parquet lives under
tmp_scale/ (gitignored, derived data only).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# local[32] runs driver+executors in ONE JVM whose heap defaults to
# 1g — far too small for the 10x corpus.  Must be set before the
# gateway launches; builder.config() is too late for driver memory.
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", "--driver-memory 48g pyspark-shell"
)

BASE = "/root/testdata/sf0.1"
OUT = os.path.join(REPO, "tmp_scale")
#: default probe ladder; override with --factors 30 (comma-sep) for
#: e.g. the 30x stretch point (VERDICT r7 item 8) — merged per-query
#: into the existing JSON, so a 30x run extends earlier 1/3/10 rows.
FACTORS = [3, 10]

#: The heavy dedup/similarity tail (plus the two broadcast-side text
#: ops whose linearity is part of the 100 TB story).
PROBE_QUERIES = [
    "ngram_jaccard_pairs",
    "minhash_near_dup_pairs",
    "simhash_near_dup_pairs",
    "near_dup_clusters",
    "near_dup_clusters_star",
    "embedding_near_dup_srp",
    "ann_cosine_topk",
    "decontaminate_train_docs",
    "document_repetition_ratios",
    "deduped_corpus",
    "hashed_bow_embeddings",
    "ann_cosine_topk_pandas",
    # auto-sized SRP (VERDICT r5 item 1): the production plan whose
    # occupancy-holding p must keep alpha <= 1.0 where fixed p=8 hit 1.18
    "embedding_near_dup_srp_auto",
    # training-prep trio (VERDICT r5 item 8): per-shard window /
    # content-hash shuffle / codegen quantize all claim shard-parallel
    # shapes — measure them
    "sequence_packing_plan",
    "training_shard_shuffle",
    "embedding_int8_quantized",
    # r6 text additions: both claim the tfidf silhouette (vocab agg
    # broadcast back over the token stream) — measure it
    "unigram_logprob_scores",
    "tfidf_scores",
    # r6 additions: scan-bound rule filter, LM-count silhouette ×2,
    # vocab-sized sketch/pair shapes, CC + per-cluster window
    "gopher_quality_flags",
    "bigram_logprob_scores",
    "documents_token_ids",
    "bpe_merge_candidates",
    "countmin_token_frequencies",
    "deduped_corpus_best_quality",
    # r6 continuation: SemDeDup (fixed-c oracle twin vs sqrt-n sized
    # scale path — the fixed twin is EXPECTED super-linear, that's the
    # point of probing both) and the bounded BFS radius audit
    "semdedup_keep_decisions",
    "semdedup_keep_decisions_auto",
    "dup_graph_bfs_hops",
    # r6 graph additions: fixed-round decimal PageRank and the
    # keep-everything reweighting (CC + size join)
    "near_dup_pagerank",
    "dedup_cluster_weights",
    # r7: the kcore peel reworked to dead-set broadcast anti-joins
    # (one materialization per round) after its r6 row measured α 1.2;
    # the r6 row was ALSO missing this tool's warm-up protocol (its
    # first x10 execution carried ~70s of cold compile, measured
    # 108s cold vs 37s warm on identical code), so it now runs under
    # the standard warm-up + min-of-2 discipline like every entry.
    "embedding_dup_kcore",
    # r7: suffix-window exact-substring dedup (Lee et al. style) and
    # its applied corpus-rewrite twin
    "exact_substring_dup_spans",
    "exact_substring_dedup_corpus",
    # r8 (VERDICT r7 items 2+3): the two heaviest registry entries
    # that had no α row.  embedding_near_dup_clusters now carries a
    # 1000-vector block cap (its blocks reach ~2180 at 10×, so the x10
    # point exercises the guardrail — by design, that IS the scale
    # behavior); doc_containment_pairs claims the stop-shingle df-cap
    # bounds its inverted-index join.
    "embedding_near_dup_clusters",
    "doc_containment_pairs",
    # r8: the new at-rest IVF leg (build+serve timed together) and the
    # logistic gate (claims the hashed-BoW explode+agg silhouette)
    "ann_ivf_persisted_topk",
    "quality_logistic_scores",
    # r8: URL canonicalization dedup — map-side key derivation + one
    # hash aggregate; must hold alpha ~ 1
    "url_dedup_canonical",
    # r8: winnowing — per-doc analytic window over positional digests;
    # the exchange is the per-doc sort, must hold alpha ~ 1
    "winnowing_fingerprints",
    # r8: the pair index served from those fingerprints — sum-df²
    # inverted-index join under the df-cap, like the jaccard family
    "winnowing_overlap_pairs",
    # r8: composed RAG pipeline (chunk → hashed-BoW → broadcast-query
    # cosine top-5, one top-k cut) — one corpus scan, must hold
    # alpha ~ 1
    "passage_retrieval_topk",
    # r8: image dedup end-to-end (mapInPandas decode+aHash, banded
    # Hamming with census cap) — the kernel dominates, must hold
    # alpha ~ 1
    "image_near_dup_pairs",
    # r8: synchronous LPA — per-round join + two partial aggs over the
    # census-capped edge set, same envelope as pagerank
    "near_dup_lpa_communities",
    # r8: iterative BPE training — rounds x vocab-sized passes; vocab
    # grows sub-linearly with corpus (Heaps' law on shuffled replicas:
    # near-constant), so alpha should be well under 1
    "bpe_train_merges",
    # r8: train->apply completion — same loop + one explode/agg over
    # the final encodings
    "bpe_vocab_after_training",
    # r8: two-phase budget selection — histogram + one boundary
    # bucket; must hold alpha ~ 1 (scan-bound, no global sort)
    "token_budget_corpus_selection",
    # r8: prefix-filtered exact similarity join — index cost rides
    # rare-shingle df^2 (stop-shingles sort out of prefixes)
    "set_similarity_prefix_pairs",
    # r8: composed component audit — CC + triangle census + edge
    # counts over the shared pair relation, one checkpoint
    "dup_component_audit",
    # r8: tokenizer serving path — vocab-sized training loop + ONE
    # broadcast join over the corpus stream; must hold alpha ~ 1
    "bpe_encode_documents",
    # r8 selection/mixing family: DSIR (two corpus passes: 256-bucket
    # fit + broadcast weight join score — must hold alpha ~ 1),
    # semantic decontamination (one corpus scan x FIXED eval suite —
    # the id<500 pin is what keeps this linear; without it the
    # replicated plant rule would grow both sides), hard-negative
    # mining (broadcast 16-query scan, one top-k cut), temperature
    # mix (per-source census, scan-bound)
    "dsir_importance_weights",
    "semantic_decontamination",
    "hard_negative_mining",
    "source_temperature_mix",
    # r8: DSIR composed with the budget selector (score pass + 1024-row
    # histogram + one boundary window — must track dsir's own alpha)
    "dsir_budget_selection",
    # r8: covariance moments — per-task partial agg collapses to <=2080
    # cells before the exchange, so wall must be scan-bound (alpha ~ 1)
    "embedding_covariance",
    # r8: fit (covariance pass) + shuffle-free broadcast-row apply —
    # both legs scan-bound, alpha ~ 1
    "embedding_abtt_postprocess",
    # r8: one covariance pass + 4 fixed-size matvec rounds — iteration
    # cost is corpus-independent, so alpha must track the covariance
    "embedding_pc_power_iteration",
    # r9: k-means training — per round ONE corpus scan reduces to a
    # k x d cell table before the exchange (constant-size shuffle), so
    # wall must be scan-bound (alpha ~ 1, iteration count fixed)
    "ivf_kmeans_codebook",
    # r9: the full train->persist->serve IVF loop; training + layout
    # write are corpus-linear, serve scans 1/|cells| — alpha ~ 1
    "ann_ivf_trained_topk",
    # r9: CCNet bucketing — bigram-LM silhouette + 1024-bin histogram
    # + straddle-only windows; must track bigram_logprob_scores' alpha
    "ccnet_perplexity_buckets",
    # r10: trained PQ — all M subspaces fit jointly, each round ONE
    # corpus scan reducing to an M·K·sub_dim cell table (constant-size
    # exchange); alpha ~ 1
    "pq_trained_codebooks",
    # r10: trained-PQ ADC serving — one encode scan + broadcast LUT +
    # integer partial-agg reduce; alpha ~ 1
    "ann_pq_trained_topk",
    # r10: composed IVFADC build+serve — encode/layout corpus-linear,
    # serve reads n_probe/|cells| of an 8-bytes-per-vector index
    "ann_ivfadc_topk",
    # r10: residual IVFADC — same envelope plus the residual
    # subtraction projection; alpha ~ 1
    "ann_ivfadc_residual_topk",
    # r10: SQ8 — constant-exchange min/max fit + one zero-shuffle
    # quantize projection; alpha ~ 1
    "sq8_embedding_codes",
    # r10: SQ8 ADC top-k — fit + one broadcast-query corpus scan with
    # one top-k cut; alpha ~ 1
    "ann_sq8_adc_topk",
    # r10: CCNet end-to-end selection (buckets -> keep/sample/drop per
    # language) — must track ccnet_perplexity_buckets' alpha
    "ccnet_filtered_corpus",
    # r10: incremental index maintenance — base build + delta append +
    # serve; every leg corpus-linear or pruned, alpha ~ 1
    "ann_ivf_append_serve",
    # r10: IVF-SQ8 — trained coarse probe x on-the-fly dequant scoring
    # over 1-byte codes; build linear, serve reads n_probe/|cells|
    "ann_ivf_sq8_topk",
    # r11: refine re-rank (ADC shortlist + |queries|·R broadcast float
    # fetch — the fetch is query-sized, so alpha must track the ADC
    # serve), the append→compact→serve lifecycle (compaction reads
    # only oversized cells), filtered top-k (selectivity × pruned
    # scan), and range search (stateless filter, no per-query shuffle)
    "ann_ivfadc_refine_topk",
    "ann_ivf_compact_serve",
    "ann_ivf_filtered_topk",
    "ann_range_search",
    # r11: BM25 (inverted-index join over the tfidf silhouette) and
    # hybrid RRF (both legs + a 2x20-row-per-query fusion) — alpha ~ 1
    "bm25_doc_topk",
    "hybrid_rrf_topk",
    # r11: quota-diversified top-k — same pruned-scan serve as
    # ivf_persisted_topk plus one bounded window; alpha must match
    "ann_ivf_diverse_topk",
    # r11: A-Res weighted sampling — one scan + per-stratum top-k
    # cut (partial WindowGroupLimit); alpha ~ 1 (scan-bound)
    "weighted_reservoir_sample",
    # r11: filtered quantized search — cell pruning x predicate
    # pushdown x 8-byte payload; alpha must track ann_ivfadc_topk
    "ann_ivfadc_filtered_topk",
    # r11: kNN graph, √n-sized cells — candidate work ~n^1.5·n_probe
    # (per-cell occupancy held at √n), so alpha ≈ 1.5 is the DESIGN
    # slope here, like the semdedup intra-cluster scan; the fixed-c=8
    # twin (knn_graph_edges) is n²/c and deliberately NOT probed.
    # PROBE-ONLY since r13 (VERDICT r12 item 3): kept as the exact
    # reference point NN-Descent's alpha is read against, no longer a
    # registered production entry.
    "knn_graph_edges_auto",
    # r11: Kneser-Ney bigram LM — all four statistics vocabulary-sized
    # after partial agg over ONE (w1,w2,c2) relation; must track
    # bigram_logprob_scores' alpha
    "kneser_ney_bigram_scores",
    # r11: greedy MMR re-rank — ONE shortlist corpus scan + a
    # query-keyed pool-sized applyInPandas kernel; alpha ~ 1
    # (scan-bound, greedy state corpus-independent)
    "ann_mmr_topk",
    # r11: Dirichlet query-likelihood — the bm25 silhouette verbatim
    # (inverted-index join, vocab-sized stats); alpha must track
    # bm25_doc_topk
    "query_likelihood_topk",
    # r12: mutual-kNN CC — re-pointed onto the NN-Descent graph
    # (VERDICT r11 item 1): LINEAR descent build + star-contraction
    # closure (chain-shaped graphs — O(log²) rounds, not diameter);
    # alpha ~ 1 expected now, vs 1.02-on-n^1.5 when it rode the
    # √n-cell exact build
    "mutual_knn_components",
    # r12: fixed-round NN-Descent graph — SRP-bucket seed (plane count
    # auto-grows with log n, occupancy pinned ~32), id-ring rescue,
    # 3 neighbor-of-neighbor rounds over a 30-edge working graph; work
    # O(n·(occ + rounds·k_build²)) ⇒ alpha ~ 1 expected — THE linear
    # replacement for knn_graph_edges_auto's designed n^1.5 (its probe
    # entry above stays as the exact-regime reference point)
    "knn_graph_edges_nndescent",
    # r12: graph-ANN beam serve — at-rest edge read + per-query
    # SRP-bucket entry + 3 beam-8 rounds; per-query state
    # O(beam·degree·rounds), CONSTANT in n ⇒ alpha ~ 1 (the graph
    # build is NOT in this entry: it serves the persisted layout;
    # probe harness rebuilds per factor via fingerprint mismatch, so
    # measured alpha includes one descent build per factor — read the
    # number against knn_graph_edges_nndescent's)
    "ann_graph_beam_topk",
    # r12: incremental graph append — old-graph build + Δ-proportional
    # merge legs (|old|·|Δ|·np/c + |Δ|·|cell|·np + n·k rescore); the
    # in-query old-graph build is n²np/c at fixed c=8, so alpha tracks
    # knn_graph_edges' fixed-cell slope (the append legs themselves
    # are the sub-quadratic part — this entry exists for the
    # equality contract, not as the scale path)
    "knn_graph_append_serve",
    # r12: at-rest flat BQ — persisted-code scan + broadcast query
    # codes; alpha must track ann_bq_hamming_topk (scan-bound)
    "ann_bq_persisted_topk",
    # r13: bounded-delta descent refresh — full-corpus bucketing O(n)
    # + |touched|·k_build² rounds (CONSTANT at the fixed 100-row
    # delta) + the n·k mutual self-join; measured nearly FLAT
    # (7.4/7.0/7.7/10.0 s at 1/3/10/30x — alpha 0.02, alpha_10_30
    # 0.24) once the delta was made threshold-based.  The first
    # registration defined delta as "ids >= n-100", which on the
    # probe's sparse replica id space silently grew to 97% of the
    # corpus and degenerated the refresh toward a full build (x30
    # 308 s, alpha_10_30 2.3) — the x30 stretch point is what caught
    # it.  min-of-4 discounts the pass-1 at-rest old-graph build.
    "knn_graph_descent_refresh",
    # r13: filtered graph-beam serve — the unfiltered walk's plan plus
    # a predicate on the final answer window (label rides the visited
    # state); per-query state still constant in n, alpha must track
    # ann_graph_beam_topk
    "ann_graph_beam_filtered_topk",
    # r13: hierarchical-entry beam serve — the ~occupancy-sized bucket
    # argmax replaces the min-id entry (occupancy is HELD by the
    # auto-p rule, so entry cost is constant in n); fewer walked nodes
    # than the default rung at equal recall, alpha must track it
    "ann_graph_beam_hier_topk",
    # r13: graph delete — |affected| ≈ |Δ|·k sources (fixed at the
    # bounded erasure set) each re-rank their probe cells (|cell| =
    # n/8 at fixed c) ⇒ total candidate work O(|Δ|·k·n/c), linear;
    # min-of-4 discounts the pass-1 at-rest full-graph build per
    # factor
    "knn_graph_delete_serve",
    # r13: IVF delete — the delete rewrites only touched cells once
    # per fingerprint; the timed path is the pruned post-delete serve,
    # alpha must track ann_ivf_persisted_topk
    "ann_ivf_delete_serve",
    # r13: BQ append/delete — maintenance once per fingerprint, timed
    # path is the at-rest code scan; both must track
    # ann_bq_persisted_topk (scan-bound alpha ~ 0)
    "ann_bq_append_serve",
    "ann_bq_delete_serve",
    # r12: KN doc-perplexity gate — one doc-side instance scan joined
    # to vocabulary-sized model aggregates (the kneser_ney/tfidf
    # silhouette) + a per-doc decimal sum; alpha must track
    # kneser_ney_bigram_scores
    "kn_perplexity_quality_gate",
    # r11: binary quantization — zero-shuffle codegen encode and the
    # XOR+popcount broadcast-query scan; both must hold alpha ~ 1
    "bq_embedding_codes",
    "ann_bq_hamming_topk",
    "ann_bq_refine_topk",
    # r11: IVF-BQ — cell-pruned scan over d/8-byte codes, XOR+popcount
    # scoring; alpha must track ann_ivf_persisted_topk
    "ann_ivf_bq_topk",
    # r14: descent-graph delete — the last maintenance-matrix corner:
    # O(n) survivor re-bucketing + |touched|·(k + occ + k_build²)
    # re-rank/descent (touched ≈ |Δ|·k, CONSTANT at the bounded
    # erasure set) + the n·k mutual self-join ⇒ alpha ≲ 1 expected,
    # the refresh's slope in the erasure direction; min-of-4 discounts
    # the pass-1 at-rest full-graph build (NN-Descent — linear, so the
    # x30 stretch leg is NOT fixture-capped)
    "knn_graph_descent_delete",
    # r14 (VERDICT r13 item 5): the quantizer-graph delete's stretch
    # twin — the registered knn_graph_delete_serve keeps its exact
    # n²/c fixture (its oracle pins bit-equality to the exact
    # rebuild), which capped its probe at x10; this probe-only twin
    # builds the at-rest graph with NN-Descent and times the
    # IDENTICAL serve path, so its x30 row carries the serve claim
    # (alpha ~ the |Δ|·k·n/c slope, ≲ 1)
    "knn_graph_delete_serve_probe",
    # r14: at-rest MinHash-LSH index lifecycle (operators/lsh_index).
    # Append: text work is the FIXED delta only; the growth terms are
    # the at-rest band-table scan (n·bands fixed-width rows) and the
    # census/pair legs minhash_near_dup_pairs already carries (its
    # probed alpha 0.73/0.74) ⇒ expect alpha ≈ that derivation slope,
    # ≲ 1.  Delete: same derivation over survivors post-surgery (the
    # surgery itself is untimed per-fingerprint) ⇒ same expectation.
    # Probe: FIXED query batch against a growing index — census scan
    # is O(n) fixed-width, candidate/verify work is per-query-bounded
    # by the bucket cap ⇒ alpha ≲ 1, scan-bound.
    "minhash_lsh_index_append_pairs",
    "minhash_lsh_index_delete_pairs",
    "minhash_lsh_probe_matches",
    # r14: at-rest BM25 inverted index (operators/bm25_index).  All
    # three time a term-hash-pruned serve over a FIXED 5-query batch:
    # matched-postings volume grows with corpus df of the query terms
    # (linear in n on the replica corpus), the top-k cut bounds
    # the sort legs ⇒ alpha ≲ 1, postings-scan-bound.  Append adds a
    # fixed-delta tokenize; delete adds a broadcast tombstone
    # anti-join (|tombs| fixed) — neither changes the slope.
    "bm25_index_serve_topk",
    "bm25_index_append_serve_topk",
    "bm25_index_delete_serve_topk",
    # r14: at-rest bigram-LM count index (operators/lm_index).  All
    # three replace the from-scratch fit's corpus text scan with a
    # vocabulary-sized segment merge, then pay the scoring scan over
    # the gated corpus — the scoring scan is corpus-linear by
    # definition (every doc is scored), so alpha ≈ the
    # kn_perplexity_quality_gate slope MINUS its fit-scan share;
    # expect ≲ 1, merge work growing with distinct bigram types.
    "kn_lm_index_gate_served",
    "kn_lm_index_append_gate",
    "kn_lm_index_delete_gate",
]


def build_scaled(factor: int, outdir: str) -> None:
    os.makedirs(outdir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW base_docs AS SELECT * FROM read_parquet('{BASE}/documents.parquet')")
    con.execute(f"CREATE VIEW base_emb AS SELECT * FROM read_parquet('{BASE}/embeddings.parquet')")
    # documents: replica r rotates tokens by r (mod doc length).
    con.execute(
        f"""
COPY (
  SELECT doc_id, text, lang, source, n_chars FROM base_docs
  UNION ALL
  SELECT d.doc_id + r.r * 10000000 AS doc_id,
         array_to_string(
           list_transform(
             list_sort(list_transform(
               generate_series(1, len(toks)),
               i -> {{k: hash(d.doc_id, i, r.r), t: toks[i]}})),
             s -> s.t),
           ' ') AS text,
         d.lang, d.source, d.n_chars
  FROM (SELECT *, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
        FROM base_docs) d
  CROSS JOIN (SELECT unnest(generate_series(1, {factor - 1})) AS r) r
) TO '{outdir}/documents.parquet' (FORMAT PARQUET)
"""
    )
    # embeddings: replica r rolls components by r.
    con.execute(
        f"""
COPY (
  SELECT vec_id, embedding, label FROM base_emb
  UNION ALL
  SELECT e.vec_id + r.r * 10000000 AS vec_id,
         CAST(list_concat(embedding[r.r + 1 :], embedding[1 : r.r]) AS FLOAT[]) AS embedding,
         e.label
  FROM base_emb e
  CROSS JOIN (SELECT unnest(generate_series(1, {factor - 1})) AS r) r
) TO '{outdir}/embeddings.parquet' (FORMAT PARQUET)
"""
    )
    con.close()


def skew_join_probe(spark) -> dict:
    """Salted vs unsalted shuffle join under a zipf-skewed fact key
    (VERDICT r5 item 6).  The hot key owns ~32 % of all fact rows
    (key = floor(10000·u^8) for hash-uniform u — a zipf-ish inverse
    CDF), the dim is forced past the broadcast path, and AQE's
    skew-split is disabled so the probe measures the OPERATOR's
    pre-spread, not the runtime's after-the-fact rescue.  Reported:
    wall-clock at 1x/10x for both paths + growth exponent alpha."""
    import pyspark.sql.functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        salted_equi_join,
    )

    dim = (
        spark.range(10_000)
        .select(
            F.col("id").alias("dim_key"),
            F.sha2(F.conv(F.col("id").cast("string"), 10, 16), 256).alias("dim_payload"),
        )
        .persist()
    )
    dim.count()
    out: dict[str, dict] = {"unsalted": {}, "salted": {}}
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for factor in (1, 10):
            n = 3_000_000 * factor
            fact = spark.range(n).select(
                F.col("id").alias("row_id"),
                F.floor(
                    F.pow(
                        F.pmod(F.xxhash64("id"), F.lit(1_000_000)).cast("double")
                        / 1e6,
                        F.lit(8.0),
                    )
                    * 10_000
                ).alias("fact_key"),
            )
            for name, join_fn in (
                ("unsalted", lambda f: f.join(dim, f["fact_key"] == dim["dim_key"])),
                ("salted", lambda f: salted_equi_join(
                    f, dim, "fact_key", "dim_key", salt_buckets=32
                )),
            ):
                t0 = time.time()
                join_fn(fact).write.format("noop").mode("overwrite").save()
                out[name][f"x{factor}"] = round(time.time() - t0, 2)
                print(
                    f"skew x{factor} {name}: {out[name][f'x{factor}']}s",
                    file=sys.stderr,
                )
        for name in out:
            out[name]["alpha"] = round(
                math.log(max(out[name]["x10"], 0.01) / max(out[name]["x1"], 0.01))
                / math.log(10),
                2,
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        dim.unpersist()
    out["workload"] = "zipf u^8 over 10k keys, hot key ~32% of fact rows; dim 10k rows, broadcast+AQE-skew disabled"
    return out


def main() -> None:
    rebuild = "--rebuild" in sys.argv
    # --only a,b,c: probe just those queries (merge-written into the
    # existing JSON), skipping the skew section — for re-measuring a
    # reworked operator without paying the full 30-query sweep.
    only: list[str] | None = None
    if "--only" in sys.argv:
        only = sys.argv[sys.argv.index("--only") + 1].split(",")
    factors = FACTORS
    if "--factors" in sys.argv:
        factors = [
            int(x) for x in sys.argv[sys.argv.index("--factors") + 1].split(",")
        ]
    # --env K=V[,K=V...]: set env vars before the session builds —
    # the DISTRIBUTED-leg probe (VERDICT r14 item 3: the driver-side
    # twins removed the distributed iterative-graph path from bench
    # coverage; this leg keeps standing scale evidence for it, e.g.
    #   --env SPARK_GRAFT_TWINS=0 --suffix _dist
    # probes the real per-round join loops).  --suffix tags the JSON
    # rows so twin-path and distributed-path evidence coexist.
    suffix = ""
    if "--suffix" in sys.argv:
        suffix = sys.argv[sys.argv.index("--suffix") + 1]
    if "--env" in sys.argv:
        for kv in sys.argv[sys.argv.index("--env") + 1].split(","):
            k, _, v = kv.partition("=")
            os.environ[k] = v
    dirs = {1: BASE}
    for f in factors:
        d = os.path.join(OUT, f"x{f}")
        if rebuild or not os.path.exists(os.path.join(d, "documents.parquet")):
            print(f"building {f}x corpus at {d} ...", file=sys.stderr)
            build_scaled(f, d)
        dirs[f] = d

    from spark_streaming_kafka2elasticsearch_spark.queries import (
        all_queries,
        probe_only_queries,
    )
    from spark_streaming_kafka2elasticsearch_spark.session import (
    build_session,
    release_cached_state,
)

    # Probe-only entries (knn_graph_edges_auto, the documented exact
    # n^1.5 reference point) are measurable here without being
    # registered production queries (VERDICT r12 item 3).
    qs = all_queries() | probe_only_queries()
    probe_list = only or PROBE_QUERIES
    spark = build_session(master="local[32]", app_name="scale_probe")
    spark.range(1_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    # Untimed codegen warm-up: run every probe query once at 1x first.
    # janino compilation is paid per plan SHAPE per session (~3-5s for
    # the wide dedup plans) and would otherwise inflate exactly the x1
    # measurements the growth exponent divides by (measured: x1 >
    # x3 wall-clock on three queries before this pass existed).
    for q in probe_list:
        try:
            qs[q](spark, BASE).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass
        release_cached_state(spark)
    print("warm-up pass done", file=sys.stderr)

    skew: dict = {}

    def flush(results: dict) -> None:
        # Merge-write: the tpch/events probes own their own sections of
        # this file — clobbering them here would silently drop their
        # evidence between runs.
        path = os.path.join(REPO, "SCALE_PROBE.json")
        try:
            with open(path) as f:
                doc = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            doc = {}
        # Per-query DEEP merge + alpha recompute: an --only/--factors
        # run must extend a query's existing row (e.g. add x30 next to
        # its x1/x3/x10), not clobber it.
        merged_q = dict(doc.get("queries", {}))
        for q, vals in results.items():
            q = q + suffix
            row = dict(merged_q.get(q, {}))
            row.update(vals)
            if row.get("x1", -1) > 0 and row.get("x10", -1) > 0:
                row["alpha"] = round(
                    math.log(max(row["x10"], 0.01) / max(row["x1"], 0.01))
                    / math.log(10),
                    2,
                )
            if row.get("x10", -1) > 0 and row.get("x30", -1) > 0:
                # growth exponent on the 10x→30x leg; ≤ the 1x→10x
                # alpha means fixed costs are amortizing, not hiding
                row["alpha_10_30"] = round(
                    math.log(max(row["x30"], 0.01) / max(row["x10"], 0.01))
                    / math.log(3),
                    2,
                )
            merged_q[q] = row
        doc.update(
            {
                "base_rows": {"documents": 5000, "embeddings": 2000},
                "factors": sorted({1, *doc.get("factors", []), *factors}),
                "queries": merged_q,
            }
        )
        if skew or not only:
            doc["skew_join"] = skew or doc.get("skew_join", {})
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)

    # Min-of-N per measurement: host noise on a saturated 32-thread box
    # is ADDITIVE and huge at the tail (the same SRP x10 plan measured
    # 19s / 38s / 67s across single-pass runs) — a query cannot run
    # FASTER than its true cost, so the min is the signal.  Single-pass
    # alphas were swinging ±0.5 on exactly the entries the probe
    # exists to judge.
    # N=4 (was 2): the x10 sweeps generate shuffle-writeback debt
    # that lands on a LATER query and persists across two consecutive
    # passes — min-of-2 cannot dodge it (the tpch probe measured the
    # same query 22.7s min-of-2 in-sweep vs 1.5s isolated, with the
    # spike wandering between entries).  Four passes straddle the
    # transient.
    passes = int(os.environ.get("SCALE_PROBE_PASSES", "4"))
    results: dict[str, dict[str, float]] = {q: {} for q in probe_list}
    for factor, sf_dir in dirs.items():
        for q in probe_list:
            best = -1.0
            for _ in range(passes):
                t0 = time.time()
                try:
                    qs[q](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    dt = round(time.time() - t0, 2)
                    best = dt if best < 0 else min(best, dt)
                except Exception as exc:  # noqa: BLE001 — record, keep probing
                    print(f"x{factor} {q} FAILED: {exc}", file=sys.stderr)
                    break
                finally:
                    release_cached_state(spark)
            results[q][f"x{factor}"] = best
            print(f"x{factor} {q}: {best}s (min of {passes})", file=sys.stderr)
            flush(results)

    flush(results)  # final merge recomputes alphas from merged rows
    if not only:
        skew.update(skew_join_probe(spark))
        flush(results)
    print(json.dumps({"queries": results, "skew_join": skew}, indent=1))


if __name__ == "__main__":
    main()

"""IVF multi-probe recall/cost curve (VERDICT r8 item 4).

The persisted-IVF family (operators/similarity.ivf_persisted_topk)
exists to dial recall against scan cost: its docstring's contract is
"cost is n_probe/|cells| of the corpus per query batch".  This probe
publishes the trade-off that contract buys: recall@10 vs fraction of
cells scanned, sweeping n_probe over the sf0.1 embeddings corpus
(2,000 vectors, 16 fixed cells, 80 queries) against the brute-force
exact top-10 (operators/similarity.brute_force_topk).

By construction recall must be monotone in n_probe and exactly 1.0 at
n_probe = |cells| (every cell probed ⇒ the candidate set is the whole
corpus); the interesting numbers are the intermediate points — how much
recall the FIRST probe buys on a real (synthetic-but-unplanted) vector
distribution, and how fast the curve saturates.  Serve wall-clock is
min-of-N per point (host noise is additive); the index is built ONCE
and every point serves from the same at-rest layout (rebuild=False), so
the timings isolate exactly the leg the n_probe dial scales.

Usage: python tools/ivf_recall_probe.py
Merges an "ivf_recall" section into SCALE_PROBE.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

# Checkout-relative, never a hard-coded absolute path (the same
# portability rule queries.index_dir follows).
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_CELLS = 16
N_QUERIES_MOD = 25  # vec_id % 25 == 0 -> 80 queries over 2,000 vectors
K = 10
PROBES = [1, 2, 4, 8, 16]


def main() -> None:
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        brute_force_topk,
        ivf_persisted_topk,
    )
    from spark_streaming_kafka2elasticsearch_spark.queries import load_table
    from spark_streaming_kafka2elasticsearch_spark.session import (
        build_session,
        release_cached_state,
    )

    spark = build_session(master="local[32]", app_name="ivf_recall_probe")
    emb = load_table(spark, BASE, "embeddings")
    queries = emb.filter(F.col("vec_id") % N_QUERIES_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_embedding"),
    )
    cents = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    n_queries = queries.count()

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=K).collect()
    }
    assert len(exact) == n_queries * K

    # Scratch layout honors $SPARK_GRAFT_TMP_DIR like queries.index_dir;
    # sweep() builds the layout itself, so no pre-build here.
    path = os.path.join(
        os.environ.get("SPARK_GRAFT_TMP_DIR") or os.path.join(_REPO, "tmp_ivf"),
        "recall_probe",
    )

    passes = int(os.environ.get("IVF_PROBE_PASSES", "3"))

    def sweep(cent_df, layout_path):
        shutil.rmtree(layout_path, ignore_errors=True)
        # Build the layout once; every sweep point serves from it.
        ivf_persisted_topk(
            emb, queries, cent_df, layout_path, k=K, n_probe=1, rebuild=True
        ).write.format("noop").mode("overwrite").save()
        release_cached_state(spark)
        rows = []
        for n_probe in PROBES:
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in ivf_persisted_topk(
                    emb, queries, cent_df, layout_path,
                    k=K, n_probe=n_probe, rebuild=False,
                ).collect()
            }
            recall = len(got & exact) / len(exact)
            best = -1.0
            for _ in range(passes):
                t0 = time.time()
                ivf_persisted_topk(
                    emb, queries, cent_df, layout_path,
                    k=K, n_probe=n_probe, rebuild=False,
                ).write.format("noop").mode("overwrite").save()
                dt = round(time.time() - t0, 2)
                best = dt if best < 0 else min(best, dt)
                release_cached_state(spark)
            row = {
                "n_probe": n_probe,
                "cells_scanned_frac": round(n_probe / N_CELLS, 4),
                "recall_at_10": round(recall, 4),
                "serve_sec_min_of_n": best,
            }
            rows.append(row)
            print(json.dumps(row), file=sys.stderr)
        assert rows[-1]["recall_at_10"] == 1.0, "full probe must be exact"
        assert all(
            a["recall_at_10"] <= b["recall_at_10"] + 1e-12
            for a, b in zip(rows, rows[1:])
        ), "recall must be monotone in n_probe"
        return rows

    curve = sweep(cents, path)

    # The same sweep over a TRAINED codebook (spherical_kmeans_fit,
    # same k) — turns the note's "a trained codebook shifts the curve
    # up without changing the serving plan" into a measured number.
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        spherical_kmeans_fit,
    )

    trained_cents = (
        spherical_kmeans_fit(emb, k=N_CELLS, iters=4)
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "coord"))),
                lambda s: s["coord"],
            ).alias("centroid_vec")
        )
    )
    trained_curve = sweep(trained_cents, path + "_trained")

    # PQ + IVFADC recall points (VERDICT r9 items 4/5): how much
    # recall@10 survives (a) scoring the WHOLE corpus from 8-byte ADC
    # codes (fixed vs trained codebooks — the trained-codebook uplift
    # for PQ), and (b) the full IVFADC composition (trained coarse
    # probe x trained PQ codes) at each n_probe — the production
    # serving stack's point on the same recall/cost axes.
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivfadc_topk,
        pq_adc_topk,
        pq_train_codebooks,
    )

    seed = (
        emb.filter(F.col("vec_id") < 16)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    fixed_books = [
        (m, int(r["vec_id"]), list(r["v"][m * 8 : (m + 1) * 8]))
        for r in seed
        for m in range(8)
    ]
    trained_books = pq_train_codebooks(emb, n_sub=8, sub_dim=8, k=16, iters=2)

    def pq_recall(books):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in pq_adc_topk(emb, queries, books, k=K).collect()
        }
        return round(len(got & exact) / len(exact), 4)

    pq_section = {
        "adc_full_scan_recall_fixed_codebooks": pq_recall(fixed_books),
        "adc_full_scan_recall_trained_codebooks": pq_recall(trained_books),
    }
    ivfadc_rows = []
    adc_path = path + "_ivfadc"
    shutil.rmtree(adc_path, ignore_errors=True)
    for i, n_probe in enumerate(PROBES):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivfadc_topk(
                emb, queries, trained_cents, trained_books, adc_path,
                k=K, n_probe=n_probe, rebuild=(i == 0),
            ).collect()
        }
        release_cached_state(spark)
        ivfadc_rows.append(
            {
                "n_probe": n_probe,
                "cells_scanned_frac": round(n_probe / N_CELLS, 4),
                "recall_at_10": round(len(got & exact) / len(exact), 4),
            }
        )
        print(json.dumps(ivfadc_rows[-1]), file=sys.stderr)
    pq_section["ivfadc_trained_coarse_trained_pq_curve"] = ivfadc_rows

    # Refine re-rank (r11): ADC top-50 shortlist -> exact-cosine
    # re-rank of the shortlist's raw floats (ivfadc_refine_topk,
    # FAISS's RefineFlat).  Recall becomes "is the true neighbor in
    # the ADC top-R", so the same 8-byte index recovers most of the
    # quantization loss at |queries|*R extra float reads.
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivfadc_refine_topk,
    )

    refine_rows = []
    for n_probe, shortlist in [(p, 50) for p in PROBES] + [(2, 200), (16, 200)]:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivfadc_refine_topk(
                emb, queries, trained_cents, trained_books, adc_path,
                k=K, shortlist=shortlist, n_probe=n_probe, rebuild=False,
            ).collect()
        }
        release_cached_state(spark)
        refine_rows.append(
            {
                "n_probe": n_probe,
                "shortlist": shortlist,
                "cells_scanned_frac": round(n_probe / N_CELLS, 4),
                "recall_at_10": round(len(got & exact) / len(exact), 4),
            }
        )
        print(json.dumps(refine_rows[-1]), file=sys.stderr)
    pq_section["ivfadc_refine_curve"] = refine_rows
    pq_section["refine_note"] = (
        "refine multiplies plain-ADC recall ~2.5x at every probe point "
        "(the true neighbor only needs to reach the ADC top-R, not the "
        "top-k); on THIS near-uniform synthetic corpus the 8-byte codes "
        "are weakly informative (residual_note), so SQ8-parity recall "
        "needs R to grow toward a corpus fraction - the R dial is the "
        "operator's contract, the ceiling is the corpus's"
    )

    # Residual IVFADC (r10): same trained coarse cells and probe dial,
    # but PQ encodes x − centroid(cell) and the score decomposes into
    # ⟨q, c_cell⟩ + Σ LUT — the Jégou construction's fidelity uplift
    # over raw-vector codes at the same 8-byte budget.
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        ivfadc_residual_topk,
    )

    res_rows = []
    res_path = path + "_resadc"
    shutil.rmtree(res_path, ignore_errors=True)
    for i, n_probe in enumerate(PROBES):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivfadc_residual_topk(
                emb, queries, trained_cents, res_path,
                k=K, n_probe=n_probe, rebuild=(i == 0),
            ).collect()
        }
        release_cached_state(spark)
        res_rows.append(
            {
                "n_probe": n_probe,
                "cells_scanned_frac": round(n_probe / N_CELLS, 4),
                "recall_at_10": round(len(got & exact) / len(exact), 4),
            }
        )
        print(json.dumps(res_rows[-1]), file=sys.stderr)
    pq_section["ivfadc_residual_trained_coarse_curve"] = res_rows
    shutil.rmtree(res_path, ignore_errors=True)

    # SQ8 (r10): the 4x rung — full-scan ADC over per-dim 1-byte
    # scalar codes, no codebook.  Scored by dot like the PQ rows, so
    # the number is comparable within this section.
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        sq8_adc_topk,
    )

    got_sq8 = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_adc_topk(emb, queries, k=K).collect()
    }
    pq_section["sq8_adc_full_scan_recall"] = round(
        len(got_sq8 & exact) / len(exact), 4
    )
    pq_section["residual_note"] = (
        "residual ~ raw PQ recall on THIS corpus because the synthetic "
        "near-uniform sphere has no cluster structure: x - centroid is "
        "isotropic noise, so residual codewords quantize nothing "
        "useful.  The construction's win is score FIDELITY (the exact "
        "centroid dot carries the magnitude): "
        "tests/test_similarity_recall.py pins residual ADC "
        "reconstructing true dot products with lower MAE than raw ADC "
        "over trained cells.  On a clustered real corpus (where "
        "residual norms << vector norms) the recall uplift follows; "
        "sq8_adc_full_scan_recall shows the 4x rung is near-lossless "
        "(0.98) while both 32x PQ rungs pay heavy quantization loss "
        "on unclusterable data."
    )
    # BQ (r11): 1 bit/dim sign codes — at dim 64 that is 8 bytes per
    # vector, the SAME byte budget as the PQ rungs, scored float-free
    # by XOR+popcount; plus the Hamming-shortlist -> exact-cosine
    # refine (bq_refine_topk) at R in {50, 200}.
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        bq_hamming_topk,
        bq_refine_topk,
    )

    got_bq = {
        (r["query_id"], r["neighbor_id"])
        for r in bq_hamming_topk(emb, queries, k=K, dim=64).collect()
    }
    pq_section["bq_hamming_full_scan_recall"] = round(
        len(got_bq & exact) / len(exact), 4
    )
    bq_refine_rows = []
    for shortlist in (50, 200):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in bq_refine_topk(
                emb, queries, k=K, shortlist=shortlist, dim=64
            ).collect()
        }
        release_cached_state(spark)
        bq_refine_rows.append(
            {
                "shortlist": shortlist,
                "recall_at_10": round(len(got & exact) / len(exact), 4),
            }
        )
        print(json.dumps(bq_refine_rows[-1]), file=sys.stderr)
    pq_section["bq_refine_curve"] = bq_refine_rows
    pq_section["bq_note"] = (
        "BQ packs 1 sign bit/dim - at dim 64 that is 8 bytes/vector, "
        "the SAME byte budget as both PQ rungs, but scored by "
        "XOR+popcount with no codebook, no LUT, and no training; "
        "compare bq_hamming_full_scan_recall directly against the two "
        "adc_full_scan rows for the budget-matched answer, and the "
        "refine rows for what an exact re-rank of the Hamming top-R "
        "recovers (the same RefineFlat dial as ivfadc_refine_curve)"
    )

    pq_section["note"] = (
        "full-probe IVFADC recall equals the ADC-trained full-scan "
        "recall by construction (same scores, candidate set = whole "
        "corpus); the gap between either ADC number and 1.0 is pure "
        "8-byte quantization loss, the gap between the IVFADC curve "
        "and the ADC ceiling is coarse-probe loss"
    )
    shutil.rmtree(adc_path, ignore_errors=True)

    section = {
        "corpus": f"{BASE}/embeddings.parquet",
        "n_vectors": emb.count(),
        "n_cells": N_CELLS,
        "n_queries": n_queries,
        "k": K,
        "passes": passes,
        "cost_contract": (
            "operators/similarity.ivf_persisted_topk: cost is "
            "n_probe/|cells| of the corpus per query batch; index built "
            "once, every point serves from the same at-rest layout"
        ),
        "note": (
            "fixed first-16-vector centroids over a near-uniform "
            "synthetic sphere: quantization is deliberately weak "
            "(recall ~3x the random-baseline cells fraction at 1 "
            "probe), so the curve shows the DIAL, not a tuned "
            "codebook; trained_curve measures the same sweep over a "
            "4-round spherical-k-means codebook "
            "(spherical_kmeans_fit, k=16) through the identical "
            "serving plan"
        ),
        "curve": curve,
        "trained_curve": trained_curve,
        "pq_recall": pq_section,
        "trained_recall_uplift_at_1_probe": round(
            trained_curve[0]["recall_at_10"] - curve[0]["recall_at_10"], 4
        ),
    }
    out = os.path.join(_REPO, "SCALE_PROBE.json")
    try:
        with open(out) as f:
            doc = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        doc = {}
    doc["ivf_recall"] = section
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps(section, indent=1))
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(path + "_trained", ignore_errors=True)


if __name__ == "__main__":
    main()

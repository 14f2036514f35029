"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the standard ANN playbook:

* **brute-force top-k** — exact baseline: broadcast the (small) query
  set, stream the candidate corpus once, rank per query.  The corpus
  side never shuffles; cost is |corpus|×|queries| fused multiply-adds
  inside codegen.  Right answer up to ~10⁸ corpus × small query batch.
* **LSH-bucketed top-k** — scale path: random-hyperplane signatures
  bucket the corpus; only same-bucket (plus probe-adjacent) candidates
  are ranked.  Hyperplanes are derived from xxhash64, so signatures are
  deterministic — no RNG, reproducible across runs/partitionings.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
    literal_l2_norm,
)
from spark_streaming_kafka2elasticsearch_spark.operators import twins
from spark_streaming_kafka2elasticsearch_spark.operators.dedup import _capped_bucket_pairs
from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import top_k_per
from spark_streaming_kafka2elasticsearch_spark.operators.twins import (
    _csr_gather,
    _in_id_range,
    _integral_id_cols,
    _isin_sorted,
    _pack_pairs,
    _pair_score_broadcast_bytes,
    collect_ids,
    collect_vectors,
)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    exclude_self: bool = True,
    corpus_label: str | None = None,
    query_label: str | None = None,
    exclude_same_label: bool = False,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, sim).

    The query side is broadcast — the big corpus is scanned exactly
    once with no shuffle; the only exchange is the final per-query
    rank, and :func:`~.partitioning.top_k_per` lets Catalyst cut each
    partition to its top-k first, so only |partitions|×k×|queries| rows
    cross it.

    ``exclude_same_label=True`` (requires ``corpus_label`` and
    ``query_label``) turns the ranking into HARD-NEGATIVE MINING for
    embedding-model training: only corpus rows whose label differs
    from the query's compete, so the top-k are the most-confusable
    wrong-class neighbors — the negatives a contrastive trainer wants.
    The label predicate lands INSIDE the broadcast-join filter, before
    any ranking state, so the plan shape (one corpus scan, one rank
    exchange) is unchanged.  ``corpus_label`` alone just carries the
    neighbor's label into the output as ``neighbor_label``.
    """
    csel = [
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("_cvec"),
    ]
    if corpus_label is not None:
        csel.append(F.col(corpus_label).alias("neighbor_label"))
    c = corpus.select(*csel)
    qsel = [
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("_qvec"),
    ]
    if query_label is not None:
        qsel.append(F.col(query_label).alias("_qlabel"))
    q = queries.select(*qsel)
    pairs = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    if exclude_same_label:
        if corpus_label is None or query_label is None:
            raise ValueError(
                "exclude_same_label requires corpus_label and query_label"
            )
        pairs = pairs.filter(F.col("_qlabel") != F.col("neighbor_label"))
    carry = ["neighbor_label"] if corpus_label is not None else []
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        *carry,
        cosine_similarity(F.col("_qvec"), F.col("_cvec")).alias("sim"),
    )
    return top_k_per(
        sims, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", *carry, "rank", "sim")


def brute_force_topk_pandas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Arrow-batched twin of :func:`brute_force_topk` — the vectorized
    Pandas-UDF path for exact cosine top-k.

    Scale shape is identical to the Catalyst variant: the (small, by
    contract — same contract the broadcast join makes) query set is
    collected once and shipped inside the ``mapInPandas`` closure; the
    corpus is scanned exactly once with no shuffle; each Arrow batch
    emits at most k rows per query, so only |batches|·k·|queries| rows
    reach the final global rank.  Inside the batch the similarity
    matrix is computed with numpy over float64.

    Bit-compatibility with the Catalyst fold (and hence with the DuckDB
    oracle): the dot/norm accumulations run as a **sequential fold over
    the dimension axis** (``acc = acc + x_j·y_j``, vectorized across
    rows) rather than ``np.matmul`` — numpy's pairwise/BLAS summation
    reorders additions, which is a ±1-ulp difference that can flip
    near-tie rankings.  Elementwise +,*,/ and sqrt are IEEE-exact in
    both engines, so this ordering makes sims bit-identical to
    ``functions.vectors.cosine_similarity``.  Zero-norm corpus vectors
    (sim undefined, NULL in the Catalyst variant) are dropped.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select(query_id, query_vec).collect()
    out_schema = "query_id bigint, neighbor_id bigint, sim double"
    if not qrows:
        return corpus.sparkSession.createDataFrame([], out_schema)
    q_ids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    Q = np.array([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    dim = Q.shape[1]

    def _seq_fold_dot(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        # A: n×d, B: m×d → n×m, accumulated j = 0..d-1 like the fold.
        acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
        for j in range(A.shape[1]):
            acc = acc + A[:, j, None] * B[None, :, j]
        return acc

    def _seq_fold_sqnorm(A: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for j in range(A.shape[1]):
            acc = acc + A[:, j] * A[:, j]
        return acc

    qnorm = np.sqrt(_seq_fold_sqnorm(Q))

    def batch_topk(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            C = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)
            if C.shape[1] != dim:
                raise ValueError(
                    f"corpus dim {C.shape[1]} != query dim {dim}"
                )
            cnorm = np.sqrt(_seq_fold_sqnorm(C))
            # cosine = dot / (‖q‖·‖c‖), same operand order as the
            # Catalyst twin (multiplication is IEEE-commutative).
            denom = qnorm[:, None] * cnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = _seq_fold_dot(Q, C) / denom  # q×n
            sims = np.where(denom == 0.0, -np.inf, sims)
            if exclude_self:
                sims = np.where(q_ids[:, None] == ids[None, :], -np.inf, sims)
            kk = min(k, n)
            out_q, out_id, out_sim = [], [], []
            for qi in range(len(q_ids)):
                row = sims[qi]
                cand = np.argpartition(-row, kk - 1)[:kk] if n > kk else np.arange(n)
                # exact tie-break: sim desc, neighbor_id asc
                order = sorted(cand, key=lambda i: (-row[i], ids[i]))[:kk]
                keep = [i for i in order if row[i] != -np.inf]
                out_q.extend([q_ids[qi]] * len(keep))
                out_id.extend(ids[i] for i in keep)
                out_sim.extend(row[i] for i in keep)
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_id, "sim": out_sim}
            )

    partial = corpus.select(corpus_id, corpus_vec).mapInPandas(
        batch_topk, schema=out_schema
    )
    return top_k_per(
        partial, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "rank", "sim")


def _plane_signs(plane_id: int, dim: int) -> list[int]:
    """Deterministic Rademacher hyperplane: component j of plane p is
    ±1 from a byte of sha256(p, j).  Computed driver-side once — the
    plane is a constant, so it belongs in the plan as literals, not as
    per-row hash evaluations.  Memoized: the same (plane, dim) is
    re-derived by every srp_bucket call in a session."""
    return list(_plane_signs_cached(plane_id, dim))


@functools.lru_cache(maxsize=4096)
def _plane_signs_cached(plane_id: int, dim: int) -> tuple[int, ...]:
    import hashlib

    out = []
    for j in range(dim):
        h = hashlib.sha256(f"srp:{plane_id}:{j}".encode()).digest()
        out.append(1 if h[0] & 1 else -1)
    return tuple(out)


def _hyperplane_sign(vec: Column, plane_id: int, dim: int) -> Column:
    """Sign of ⟨vec, h_p⟩ via a sequential fold over a LITERAL ±1 sign
    array.  The plane is a plan constant — no per-row hashing; and the
    fold stays one compact expression (a fully unrolled ±element_at
    chain was tried and blew janino's 64 KB method limit, forcing an
    interpreted fallback with a noisy stack).  Left fold ⇒
    deterministic, partition-independent summation.  The sign array is
    built by ONE ``F.expr`` parse (a single py4j call yielding the
    same CreateArray-of-literals tree): both the per-element
    ``F.array(F.lit(s)...)`` form and ``F.lit(list)`` (which delegates
    to it) cost ~40 ms of gateway chatter per plane — ~0.25 s of
    driver time per srp_bucket call at 6 planes, paid by every
    SRP-seeded operator invocation."""
    signs = F.expr(
        "array("
        + ",".join(f"{float(s)}D" for s in _plane_signs(plane_id, dim))
        + ")"
    )
    dot = F.aggregate(
        F.zip_with(vec, signs, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (dot >= 0).cast("int")


def srp_bucket(vec: Column | str, dim: int, num_planes: int = 8) -> Column:
    """Signed-random-projection bucket id (0..2^num_planes-1)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    bucket = F.lit(0)
    for p in range(num_planes):
        bucket = bucket * 2 + _hyperplane_sign(v, p, dim)
    return bucket


def srp_bucket_oracle_sql(
    dim: int, num_planes: int = 8, table: str = "embeddings",
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> str:
    """ANSI/DuckDB twin of :func:`srp_bucket` — the hyperplanes are
    plan literals, so the oracle embeds the identical ±1 arrays and
    relies on the probe-verified fact that DuckDB ``list_dot_product``
    over DOUBLE[] equals Spark's sequential double fold bit-for-bit
    (hence the sign, and the bucket id, agree exactly)."""
    expr = srp_bucket_expr_sql(dim, num_planes, f"CAST({vec_col} AS DOUBLE[])")
    return f"SELECT {id_col}, {expr} AS bucket\nFROM {table}"


def srp_bucket_expr_sql(dim: int, num_planes: int, vec_expr: str) -> str:
    """The bare bucket-id SQL expression over an existing DOUBLE[]
    expression — shared by :func:`srp_bucket_oracle_sql` and the
    ann_cosine_topk_lsh oracle, so every DuckDB twin embeds the exact
    same literal hyperplanes as the Spark plan."""
    terms = []
    for p in range(num_planes):
        arr = ", ".join(f"{float(s):.1f}" for s in _plane_signs(p, dim))
        weight = 2 ** (num_planes - 1 - p)
        terms.append(
            f"{weight} * (CASE WHEN list_dot_product("
            f"{vec_expr}, [{arr}]) >= 0 THEN 1 ELSE 0 END)"
        )
    return "\n     + ".join(terms)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    seed: int = 42,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    train_sample_size: int | None = 50_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: seeded KMeans coarse quantizer → cell
    assignment → rank only the query's cell.

    Scale shape: training samples the corpus to ≤ ``train_sample_size``
    vectors (KMeans on a bounded sample is standard IVF practice — an
    iterative fit over the full 100 TB corpus would dominate the whole
    job; cluster geometry converges on a sample), assignment is one
    narrow pass, and at rest the cell id should be the storage
    partition key so a query touches |corpus|/n_cells rows via
    partition pruning.  Single probe here; multi-probe = union the p
    nearest cells.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    to_vec = lambda c: array_to_vector(F.col(c).cast("array<double>"))  # noqa: E731
    train = corpus.select(to_vec(corpus_vec).alias("features"))
    if train_sample_size is not None:
        n = train.count()  # parquet metadata count — cheap relative to the fit
        if n > train_sample_size:
            train = train.sample(
                fraction=min(1.0, 1.1 * train_sample_size / n), seed=seed
            ).limit(train_sample_size)
    # KMeans is iterative: without a persist it re-reads and re-projects
    # the training frame every iteration.
    train = train.persist()
    try:
        model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(train)
    finally:
        train.unpersist()

    c_assigned = model.transform(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(corpus_vec).alias("_cvec"),
            to_vec(corpus_vec).alias("features"),
        )
    ).select("neighbor_id", "_cvec", F.col("prediction").alias("_cell"))
    q_assigned = model.transform(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(query_vec).alias("_qvec"),
            to_vec(query_vec).alias("features"),
        )
    ).select("query_id", "_qvec", F.col("prediction").alias("_cell"))

    pairs = c_assigned.join(F.broadcast(q_assigned), "_cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("_qvec"), F.col("_cvec")).alias("sim"),
    )
    return top_k_per(
        sims, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "rank", "sim")


def _codeword_struct_array(
    crows, vec_col: str, norm_col: str | None = None
) -> Column:
    """``array<struct(_s, _nc)>`` of per-codeword ``(cosine, -code)``
    over a collected (code, vec) table (``crows``: ordered rows) — the
    building block both the argmax single-cell assignment
    (``array_max``) and the ranked multi-probe sort share.  Encoding
    the tiebreak as ``-code`` makes plain struct ordering do the right
    thing: descending on (sim, -code) = sim DESC, code ASC.

    Built as ONE ``transform`` lambda over literal matrices instead of
    ``k`` inlined per-codeword fold copies: the cosine arithmetic per
    element is bit-identical to ``cosine_similarity_hoisted`` (same
    zip_with/aggregate dot fold, same hoisted row norm × precomputed
    codeword norm, same zero guard), but the expression tree is O(1)
    in ``k`` rather than O(k) — measured 2-7× on the PQ/IVF entries,
    which previously paid seconds of py4j tree construction AND a
    multi-MB codegen unit per scan (task binaries shrank 2 MB → kB).

    ``norm_col`` names a HOISTED ``l2_norm(vec)`` column when the
    caller has pre-projected it — the hot-scan fast path: without it
    the row-side norm fold is recomputed once per codeword."""
    v = F.col(vec_col).cast("array<double>")
    n = F.col(norm_col) if norm_col is not None else l2_norm(v)
    # One py4j call per codeword row for the matrix, one each for the
    # code/norm vectors (the F.lit(list) rule).
    mat = F.array(*[F.lit([float(x) for x in r[1]]) for r in crows])
    neg_codes = F.lit([-int(r[0]) for r in crows])
    norms = F.lit(
        [literal_l2_norm([float(x) for x in r[1]]) for r in crows]
    )

    def per_codeword(cw: Column, i: Column) -> Column:
        prods = F.zip_with(
            v, cw, lambda x, y: x.cast("double") * y.cast("double")
        )
        dot = F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)
        denom = n * F.element_at(norms, i + 1)
        sim = F.when(denom == 0, F.lit(None)).otherwise(dot / denom)
        return F.struct(
            sim.alias("_s"),
            F.element_at(neg_codes, i + 1).cast("long").alias("_nc"),
        )

    return F.transform(mat, per_codeword)


def _fixed_cell_expr(crows, vec_col: str, norm_col: str | None = None) -> Column:
    """Bit-exact coarse-quantizer assignment over a collected centroid
    table: argmax cosine with min-centroid-id tie-break, computed as
    ``array_max`` over the per-centroid ``struct(sim, -cid)``
    literal-fold expressions.  The centroid table is small BY CONTRACT
    (the same "collect the small side" rule as
    brute_force_topk_pandas), so the corpus is scanned ONCE with no
    join for assignment.  Shared by :func:`ivf_topk_fixed` and
    :func:`ivf_persisted_topk` so the in-flight and at-rest IVF paths
    can never drift in assignment semantics."""
    best = F.array_max(_codeword_struct_array(crows, vec_col, norm_col))
    return -best["_nc"]


def _cell_assign_arrow_or_none(
    base: DataFrame,
    crows,
    keep: list[str],
    vec_col: str,
    out_col: str = "cell",
):
    """Coarse-quantizer assignment via ONE ``mapInArrow`` kernel — the
    vectorized twin of projecting :func:`_fixed_cell_expr` (a ``long``
    ``out_col``, each row's home cell) over a corpus relation, with the
    ``keep`` columns passed through untouched (guide §4.2: the c
    per-centroid ``aggregate`` folds are CodegenFallback and run
    interpreted per row — the PQ-encode-kernel argument, applied to
    the coarse quantizer).  Returns the DataFrame or None (kill
    switch ``SPARK_GRAFT_TWINS=0``).

    Bit-equality with the struct expressions, term by term:

    * sims — same IEEE sequence as the Catalyst fold (products then
      sequential j-order accumulation seeded at 0.0, vectorized across
      rows); the float→double widening of the raw vector column is
      the same exact IEEE conversion Catalyst's cast performs; the
      row norm is recomputed in-kernel with the identical
      ``acc + v·v`` j-order fold + one correctly-rounded sqrt — the
      exact value a hoisted ``l2_norm`` column would carry (the PQ
      encode kernel's A/B-verified argument); centroid norms are the
      ``literal_l2_norm`` constants the literal tree folds to.
    * ranking — ``array_max`` over ``struct(_s, -cid)`` is (sim DESC
      with NULL last and NaN above +inf, cid ASC); the kernel sorts
      with an explicit (isnull, notnan, -sim, cid) lexsort so NaN
      outranks a true +inf instead of tying with it.
    * degenerate rows — in Catalyst a NULL vector, a NULL element or
      a length-mismatched vector makes every sim NULL, so the ranking
      collapses to the cid-ascending tie-break; the kernel finds those
      rows via the Arrow offsets and validity bitmaps and emits
      ``min(cids)`` for them directly.  A NaN element makes every sim
      NaN and a zero-norm row every sim NULL, in both engines alike,
      so the sort itself collapses to the same order.
    """
    if not twins.enabled():
        return None
    import numpy as np

    cids = np.array([int(r[0]) for r in crows], dtype=np.int64)
    cmat = np.array(
        [[float(x) for x in r[1]] for r in crows], dtype=np.float64
    )
    cnorm = np.array(
        [literal_l2_norm([float(x) for x in r[1]]) for r in crows],
        dtype=np.float64,
    )
    cdim = cmat.shape[1]
    # the smallest cid is the all-tied fallback cell
    cid_min = int(cids.min())

    # When the vector column is itself carried through, read it in
    # place instead of shipping a second copy across the boundary.
    if vec_col in keep:
        src = base.select(*[F.col(c) for c in keep])
        vec_idx = keep.index(vec_col)
    else:
        src = base.select(
            *[F.col(c) for c in keep], F.col(vec_col).alias("_vprobe")
        )
        vec_idx = len(keep)
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([src.schema[c] for c in keep]).add(
        StructField(out_col, LongType())
    )
    nk = len(keep)
    b_state = base.sparkSession.sparkContext.broadcast(
        (cids, np.ascontiguousarray(cmat.T), cnorm)
    )

    def kernel(batches):
        import pyarrow as pa

        kcids, kcmat_t, kcnorm = b_state.value
        c = len(kcids)
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            vcol = batch.column(vec_idx)
            # per-row validity + length via the list offsets: rows that
            # are NULL or length-mismatched take the all-tied fallback
            offs = vcol.offsets.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            valid = (
                np.ones(n_rows, dtype=bool)
                if vcol.null_count == 0
                else ~vcol.is_null().to_numpy(zero_copy_only=False)
            )
            good = valid & (lens == cdim)
            # .values (the raw child array) stays aligned with the raw
            # offsets above even for sliced arrays, where .flatten()
            # would rebase.
            vals = vcol.values
            if vals.null_count:
                # a row with a NULL element takes the all-tied fallback
                # (its Catalyst sims are all NULL)
                nulls = np.concatenate(
                    ([0], np.cumsum(vals.is_null().to_numpy(zero_copy_only=False)))
                )
                good &= nulls[offs[1:]] == nulls[offs[:-1]]
            flat = (
                vals.to_numpy(zero_copy_only=False)
                .astype(np.float64)  # exact IEEE widening, = the cast
            )
            cells = np.full(n_rows, cid_min, dtype=np.int64)
            if good.any():
                gi = np.flatnonzero(good)
                starts = offs[:-1][gi]
                idx = starts[:, None] + np.arange(cdim)[None, :]
                rows = flat[idx]  # (g, cdim), NaN where element-NULL
                g = len(gi)
                acc = np.zeros(g, dtype=np.float64)
                dots = np.zeros((g, c), dtype=np.float64)
                for j in range(cdim):
                    col = rows[:, j]
                    acc = acc + col * col
                    dots = dots + col[:, None] * kcmat_t[j][None, :]
                nrow = np.sqrt(acc)
                denom = nrow[:, None] * kcnorm[None, :]
                isnull = denom == 0.0
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = dots / denom
                isnan = np.isnan(sims) & ~isnull
                key = np.where(isnan | isnull, 0.0, sims)
                head = np.lexsort(
                    (
                        np.broadcast_to(kcids[None, :], (g, c)),
                        -key,
                        ~isnan,
                        isnull,
                    ),
                    axis=-1,
                )[:, 0]
                cells[gi] = kcids[head]
            out_cols = [*batch.columns[:nk], pa.array(cells, type=pa.int64())]
            yield pa.RecordBatch.from_arrays(
                out_cols, names=[f.name for f in out_schema.fields]
            )

    return src.mapInArrow(kernel, out_schema)


def _fixed_probe_cells_expr(
    crows, vec_col: str, n_probe: int, norm_col: str | None = None
) -> Column:
    """The query's ``n_probe`` NEAREST cells, ranked — multi-probe's
    assignment step, still bit-exact: sort the per-centroid structs
    ascending (struct order: sim ASC, -cid ASC), reverse (= sim DESC,
    cid ASC — the exact argmax tie-break), slice the head.  An
    external engine replays it as a rank-over-cells QUALIFY."""
    arr = _codeword_struct_array(crows, vec_col, norm_col)
    ranked = F.reverse(F.array_sort(arr))
    return F.transform(
        F.slice(ranked, 1, n_probe), lambda s: -s["_nc"]
    )


# -- the quantizer skeleton ------------------------------------------------
# Every IVF and kNN-graph operator resolves its coarse quantizer
# (_quantizer_rows), assigns corpus cells (_assigned_cells), probes and
# scans (_probed_scan; the graph family's _probe_lists) and flags mutual
# edges (_with_mutual) through the helpers below, so the families cannot
# drift in any of those steps.


def _quantizer_rows(
    centroids: DataFrame | None,
    path: str | None,
    rebuild: bool,
    fingerprint: str | None,
    centroid_id: str,
    centroid_vec: str,
    who: str,
) -> list[tuple]:
    """The coarse quantizer as cid-ordered ``(centroid_id, vector)``
    rows (cid-ascending is what makes every argmax tie-break pick the
    smallest cid): collected from ``centroids`` when given, else —
    serving only — loaded from the at-rest artifact under
    ``<path>/_quantizer``, whose ``fingerprint`` must match.  The
    table is small BY CONTRACT (c·dim doubles), the "collect the small
    side" rule.  ``who`` names the caller in the empty-table error."""
    if centroids is None:
        if rebuild:
            raise ValueError("rebuild=True requires an explicit centroid table")
        from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
            load_centroids,
        )

        crows = load_centroids(path, expected_fingerprint=fingerprint)
        if crows is None:
            raise ValueError(
                f"no (or stale) centroid artifact under {path}/_quantizer — "
                "rebuild the index or pass centroids explicitly"
            )
    else:
        crows = [
            (r[0], r[1])
            for r in centroids.select(centroid_id, centroid_vec)
            .orderBy(centroid_id)
            .collect()
        ]
    if not crows:
        raise ValueError(f"{who} needs >= 1 centroid")
    return crows


def _assigned_cells(
    df: DataFrame, crows, keep: list[str], vec_col: str, out_col: str = "cell"
) -> DataFrame:
    """``df``'s ``keep`` columns plus ``out_col``, each row's home cell
    under the bit-exact quantizer: the Arrow kernel
    (:func:`_cell_assign_arrow_or_none`) when the twin gate allows it,
    else the projection it is bit-equal to — :func:`_fixed_cell_expr`
    over a norm hoisted once per row for the c codeword folds."""
    kern = _cell_assign_arrow_or_none(df, crows, keep, vec_col, out_col=out_col)
    if kern is not None:
        return kern
    carried = keep if vec_col in keep else [*keep, vec_col]
    return df.select(
        *carried, l2_norm(F.col(vec_col).cast("array<double>")).alias("_nn")
    ).select(*keep, _fixed_cell_expr(crows, vec_col, "_nn").alias(out_col))


def _probed_scan(
    queries: DataFrame,
    crows,
    path: str,
    query_vec: str,
    n_probe: int,
    qcols: list[Column],
    single: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The serve half of the at-rest IVF layout: ``(q_cells, index)``.

    ``q_cells`` is ``queries`` projected to ``qcols`` plus ``cell`` —
    one row per (query, probed cell): each query's ``n_probe`` nearest
    cells exploded from :func:`_fixed_probe_cells_expr`, or with
    ``single`` its one home cell (:func:`_fixed_cell_expr`).  The
    DISTINCT probed cells are collected (queries are small by
    contract — the same driver-side reduction a broadcast join
    performs) and pushed as a static ``cell IN (...)`` predicate on
    the read of ``path``, so the scan touches only the probed cells'
    directories (PartitionFilters): cost is |probed cells| / |cells|
    of the corpus — prune with index metadata before touching data."""
    probe = (
        _fixed_cell_expr(crows, query_vec)
        if single
        else F.explode(_fixed_probe_cells_expr(crows, query_vec, n_probe))
    )
    q_cells = queries.select(*qcols, probe.alias("cell"))
    probe_cells = sorted(
        int(r["cell"]) for r in q_cells.select("cell").distinct().collect()
    )
    index = queries.sparkSession.read.parquet(path).filter(
        F.col("cell").isin(probe_cells)
    )
    return q_cells, index


def _with_mutual(edges: DataFrame) -> DataFrame:
    """``(src, dst, rank)`` plus the ``mutual`` flag: u→v is mutual
    iff v→u is also an edge — a left self-join on the reversed pair.
    The edge list is n·k rows, small by contract, and the self-join
    reads it twice, so it is MATERIALIZED first (eager
    localCheckpoint, the semdedup/LSH-banding convention): a bare
    persist() would pin the cached candidate-join plan for the whole
    session, while the checkpoint truncates lineage and frees with the
    RDD (ADVICE r11)."""
    edges = edges.localCheckpoint(eager=True)
    rev = edges.select(
        F.col("dst").alias("_r_src"), F.col("src").alias("_r_dst")
    )
    return edges.join(
        rev,
        (edges.src == rev._r_src) & (edges.dst == rev._r_dst),
        "left",
    ).select(
        "src", "dst", "rank", F.col("_r_src").isNotNull().alias("mutual")
    )


def _probe_lists(
    corpus: DataFrame, crows, n_probe: int, corpus_id: str, corpus_vec: str
) -> DataFrame:
    """The quantizer-graph family's one common projection of a corpus
    relation: ``(_id, _vec, _probe, _n)`` — the ranked ``n_probe``
    probe list (head = the home cell) with the row norm hoisted ONCE,
    feeding both the c codeword folds and every pair sim (in-place
    recomputation would run c+2 times per row; measured ~3x on the
    fixed twin for the pair leg alone)."""
    base = corpus.select(
        F.col(corpus_id).alias("_id"),
        F.col(corpus_vec).alias("_vec"),
        l2_norm(F.col(corpus_vec).cast("array<double>")).alias("_n"),
    )
    return base.select(
        "_id",
        "_vec",
        _fixed_probe_cells_expr(crows, "_vec", n_probe, "_n").alias("_probe"),
        "_n",
    )


def _homes_of(b: DataFrame) -> DataFrame:
    """Candidate side of a :func:`_probe_lists` frame: each vector in
    its home cell, ``(dst, _nvec, cell, _nn)``."""
    return b.select(
        F.col("_id").alias("dst"),
        F.col("_vec").alias("_nvec"),
        F.element_at("_probe", 1).alias("cell"),
        F.col("_n").alias("_nn"),
    )


def _probes_of(b: DataFrame) -> DataFrame:
    """Query side of a :func:`_probe_lists` frame: one row per probed
    cell, ``(src, _qvec, cell, _qn)``."""
    return b.select(
        F.col("_id").alias("src"),
        F.col("_vec").alias("_qvec"),
        F.explode("_probe").alias("cell"),
        F.col("_n").alias("_qn"),
    )


def _hoisted_cosine(a: str, a_norm: str, b: str, b_norm: str) -> Column:
    """``_sim``: the bit-exact hoisted cosine — the same dot fold, the
    same norm·norm product and the same zero guard as
    functions.vectors.cosine_similarity, with the norms computed once
    per row instead of once per pair."""
    denom = F.col(a_norm) * F.col(b_norm)
    return (
        F.when(denom == 0, F.lit(None))
        .otherwise(
            dot_product(
                F.col(a).cast("array<double>"), F.col(b).cast("array<double>")
            )
            / denom
        )
        .alias("_sim")
    )


def ivf_topk_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """The ORACLE-CHECKABLE twin of :func:`ivf_topk`: identical IVF
    structure (coarse quantize → single-probe cell scan → local
    top-k), but the coarse quantizer is a caller-supplied FIXED
    centroid table instead of a seeded iterative KMeans fit, and every
    cosine is the bit-deterministic sequential fold
    (functions/vectors.cosine_similarity — the same left-to-right
    double accumulation DuckDB's list_cosine_similarity performs), so
    cell assignment, ranking, and tie-breaks are all cross-engine
    EXACT and an external SQL engine can replay the whole query.
    Output: (query_id, cell, neighbor_id) — emitting the cell makes
    the assignment itself value-checked, not just the ranking.

    Assignment is argmax cosine over the centroid table with
    min-centroid-id tie-break, computed as ``greatest`` over
    per-centroid ``struct(sim, -cid)`` literal-fold expressions — the
    centroid table is collected to the driver (small BY CONTRACT, the
    same "collect the small side" rule as brute_force_topk_pandas;
    c·dim doubles even at c = 4096, dim = 1024 is 32 MB) and inlined
    as literal arrays, so the corpus is scanned ONCE with no join for
    assignment.  The per-centroid interpreted folds are ~3× slower
    per row than a BLAS matmul (semdedup_assignments' shape) — the
    price of bit-exactness; production IVF at scale uses
    :func:`ivf_topk` (sampled KMeans + vectorized assignment +
    cell-partitioned storage) and this twin pins its semantics.
    """
    crows = _quantizer_rows(
        centroids, None, True, None, centroid_id, centroid_vec, "ivf_topk_fixed"
    )
    assigned = _assigned_cells(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(corpus_vec).alias("_nvec"),
        ),
        crows,
        ["neighbor_id", "_nvec"],
        "_nvec",
    )
    q_assigned = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("_qvec"),
        _fixed_cell_expr(crows, query_vec).alias("cell"),
    )
    pairs = assigned.join(F.broadcast(q_assigned), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sims = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        cosine_similarity(F.col("_qvec"), F.col("_nvec")).alias("_sim"),
    )
    return top_k_per(
        sims, ["query_id"], [F.desc("_sim"), F.asc("neighbor_id")], k, "_rn"
    ).select("query_id", "cell", "neighbor_id")


def knn_graph(
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """k-NN GRAPH construction: every corpus vector becomes a query
    against the same corpus, candidates restricted by the IVF coarse
    quantizer (each node probes its ``n_probe`` nearest cells and
    ranks only vectors ASSIGNED to those cells), top-``k`` per node,
    plus the ``mutual`` flag (edge u→v is mutual iff v→u is also an
    edge) — the backbone relation for graph-ANN serving structures
    (NN-Descent/HNSW neighborhoods start from exactly this), for
    mutual-kNN clustering, and for SemDeDup-style neighborhood
    pruning.

    Unlike :func:`ivf_topk_fixed` the query side here IS the corpus —
    broadcasting it would be wrong at any scale — so the probe side
    explodes its ranked cell list (n_probe rows per node) and the
    candidate join is a plain shuffle hash join on ``cell``: both
    sides partition by the same key, candidate lists never leave
    their cell's partition, and the per-node work is |cell|·n_probe
    rather than |corpus|.  The mutual flag is a self-join of the edge
    list on the reversed pair — edge cardinality is n·k, vanishingly
    small next to the candidate relation it came from.

    Every cosine is the bit-deterministic sequential fold and both
    windows replay as SQL QUALIFY levels, so the whole graph —
    assignment, probe set, ranking, mutuality — is value-checkable
    in an external engine.

    Output: ``(src, dst, rank, mutual)``.
    """
    crows = _quantizer_rows(
        centroids, None, True, None, centroid_id, centroid_vec, "knn_graph"
    )
    # ONE common projection computes each vector's ranked probe list;
    # its head IS the assignment (same argmax + tie-break), so the
    # corpus-side and probe-side frames derive from the same child —
    # one scan shape, and no hoisted-norm column crossing a projection
    # boundary (a two-chain select over the same cached scan tripped a
    # Catalyst ATTRIBUTE_NOT_FOUND collapse bug when the relation had
    # been materialized by a prior count()).
    both = _probe_lists(corpus, crows, n_probe, corpus_id, corpus_vec)
    pairs = _probes_of(both).join(_homes_of(both), "cell")
    sims = pairs.filter(F.col("src") != F.col("dst")).select(
        "src", "dst", _hoisted_cosine("_qvec", "_qn", "_nvec", "_nn")
    )
    # a node's candidates span at most n_probe cells; the top-k cut's
    # partial WindowGroupLimit keeps each partition's top-k per src
    # before the shuffle, so the exchange carries ≤ partitions·k rows
    # per src, not the full candidate relation.
    return _with_mutual(
        top_k_per(sims, ["src"], [F.desc("_sim"), F.asc("dst")], k).select(
            "src", "dst", F.col("rank").cast("int").alias("rank")
        )
    )


def _make_pair_topk(base: DataFrame):
    """Factory for the descent-family ``_topk(cand, kk, with_rank)``:
    score an id-pair relation ``(src, dst)`` against ``base``
    (``_id``, ``_v`` double vector, ``_n`` hoisted norm) and keep each
    src's top-``kk`` by (sim DESC, dst ASC).

    Vectors live in the partitioned base relation and attach to the
    pair by id (two joins), and the cosine is the hoisted fold — the
    100 TB shape, the fold's NULL algebra included.  The driver-side
    descent twins (:func:`_nn_descent_kernel_or_none` and the
    refresh/delete twins) replay exactly this scoring when the corpus
    fits the twin gate.
    """
    src_side = base.select(
        F.col("_id").alias("src"),
        F.col("_v").alias("_sv"),
        F.col("_n").alias("_sn"),
    )
    dst_side = base.select(
        F.col("_id").alias("dst"),
        F.col("_v").alias("_dv"),
        F.col("_n").alias("_dn"),
    )

    def _topk(cand: DataFrame, kk: int, with_rank: bool = False) -> DataFrame:
        sims = (
            cand.join(src_side, "src")
            .join(dst_side, "dst")
            .select("src", "dst", _hoisted_cosine("_sv", "_sn", "_dv", "_dn"))
        )
        ranked = top_k_per(sims, ["src"], [F.desc("_sim"), F.asc("dst")], kk)
        if with_rank:
            return ranked.select(
                "src", "dst", F.col("rank").cast("int").alias("rank")
            )
        return ranked.select("src", "dst")

    return _topk


def _collect_corpus_state(base: DataFrame, n: int, dim: int):
    """The descent base relation (``_id``, ``_v``, ``_n``, ``_bucket``)
    as sorted numpy state for the gated kernels — or None when
    :func:`collect_vectors` declines it or an id is outside the
    31-bit pair-packing range.  Norms and buckets are the
    Catalyst-computed column values verbatim."""
    import numpy as np
    import pyarrow.compute as pc

    if n * (dim + 2) * 8 > _pair_score_broadcast_bytes():
        return None  # |base| is known: skip the gate's bounded collect
    st = collect_vectors(base, "_id", extra=("_bucket",), dim=dim)
    if st is None or len(st["ids"]) != n or not _in_id_range(st["ids"]):
        return None
    ids, mat = st["ids"], st["mat"]
    buckets = pc.fill_null(st["_bucket"], -1).to_numpy().astype(np.int64)
    # bucket CSR over id POSITIONS (sorted-id order)
    border = np.argsort(buckets, kind="stable")
    bsorted = buckets[border]
    bkeys, bstarts = np.unique(bsorted, return_index=True)
    bindptr = np.append(bstarts, n)
    bmembers = ids[border]
    pos2grp = np.empty(n, dtype=np.int64)
    pos2grp[border] = np.repeat(
        np.arange(len(bkeys), dtype=np.int64), np.diff(bindptr)
    )
    return dict(
        ids=ids,
        mat=mat,
        mat_t=np.ascontiguousarray(mat.T),
        norms=st["norms"],
        buckets=buckets,
        pos2grp=pos2grp,
        bindptr=bindptr,
        bmembers=bmembers,
    )


def _local_topk_pairs(st, s_arr, d_arr, kk, with_rank=False):
    """Driver-side twin of ``_make_pair_topk``'s ``_topk`` over
    explicit candidate arrays: dedup (src, dst), found-mask drop,
    bit-exact cosine (j-order fold, hoisted norms, den==0 → NULL),
    per-src top-``kk`` by (_sim DESC NULLS LAST / NaN first, dst
    ASC).  Returns (src, dst[, rank0]) numpy arrays."""
    import numpy as np

    ids, mat_t, norms = st["ids"], st["mat_t"], st["norms"]
    n_ids = len(ids)
    packed = np.unique(_pack_pairs(s_arr, d_arr))
    s_u = (packed >> 32).astype(np.int64)
    d_u = (packed & 0xFFFFFFFF).astype(np.int64)
    si = np.searchsorted(ids, s_u)
    di = np.searchsorted(ids, d_u)
    np.clip(si, 0, n_ids - 1, out=si)
    np.clip(di, 0, n_ids - 1, out=di)
    found = (ids[si] == s_u) & (ids[di] == d_u)
    s_u, d_u, si, di = s_u[found], d_u[found], si[found], di[found]
    if len(s_u) == 0:
        empty = np.empty(0, np.int64)
        return (empty, empty, empty) if with_rank else (empty, empty)
    # Chunked fold: materializing mat[si]/mat[di] for millions of
    # pairs at once is gigabytes of gather; 2^17-pair slices keep the
    # working set cache-sized at identical IEEE op order.
    sims = np.zeros(len(s_u), dtype=np.float64)
    isnull = np.zeros(len(s_u), dtype=bool)
    step = 1 << 17
    ndim = mat_t.shape[0]
    for lo in range(0, len(s_u), step):
        hi = min(lo + step, len(s_u))
        sij = si[lo:hi]
        dij = di[lo:hi]
        acc = np.zeros(hi - lo, dtype=np.float64)
        for j in range(ndim):
            acc += mat_t[j][sij] * mat_t[j][dij]
        den = norms[sij] * norms[dij]
        nz = den == 0.0
        isnull[lo:hi] = nz
        np.divide(acc, den, out=sims[lo:hi], where=~nz)
    # Spark's double total order puts NaN ABOVE +inf, so NaN gets its
    # own sort key (notnan ASC ranks NaN rows first within non-NULL)
    # instead of being folded to +inf, where it would TIE with a true
    # +inf sim and break by dst (ADVICE r14).  `key` only needs to be
    # NaN-free for lexsort to be well-defined.
    notnan = ~np.isnan(sims)
    key = np.where(notnan, sims, 0.0)
    key = np.where(isnull, 0.0, key)
    o = np.lexsort((d_u, -key, notnan, isnull, s_u))
    ss, dd = s_u[o], d_u[o]
    starts = np.r_[0, np.flatnonzero(np.diff(ss)) + 1]
    seg_len = np.diff(np.r_[starts, len(ss)])
    rank0 = np.arange(len(ss)) - np.repeat(starts, seg_len)
    keep = rank0 < kk
    if with_rank:
        return ss[keep], dd[keep], rank0[keep]
    return ss[keep], dd[keep]


def _local_touched_round(st, g_src, g_dst, extra_src, extra_dst, touched):
    """One maintain-op descent round, driver-side: two-hop candidates
    whose SOURCE is a touched node, routed through the full current
    edge set (``g`` ∪ the untouched carryover), unioned with ``g`` —
    exactly the refresh/delete round body.  Returns the candidate
    (src, dst) arrays (pre-dedup; ``_local_topk_pairs`` dedups)."""
    import numpy as np

    cur_src = np.concatenate([g_src, extra_src])
    cur_dst = np.concatenate([g_dst, extra_dst])
    und = np.unique(
        np.concatenate(
            [_pack_pairs(cur_src, cur_dst), _pack_pairs(cur_dst, cur_src)]
        )
    )
    u_src = (und >> 32).astype(np.int64)
    u_dst = (und & 0xFFFFFFFF).astype(np.int64)
    akeys, astarts = np.unique(u_src, return_index=True)
    aindptr = np.append(astarts, len(u_src))
    # a-legs restricted to touched sources
    ownA, jarr, _ = _csr_gather(akeys, aindptr, u_dst, touched)
    s_of_a = touched[ownA]
    ownB, tarr, _ = _csr_gather(akeys, aindptr, u_dst, jarr)
    s_rep = s_of_a[ownB]
    keep = tarr != s_rep
    return (
        np.concatenate([s_rep[keep], g_src]),
        np.concatenate([tarr[keep], g_dst]),
    )


def _nn_descent_kernel_or_none(
    base: DataFrame, n: int, dim: int, k: int, k_build: int,
    rounds: int, ring: int,
):
    """Gated whole-build executor for :func:`nn_descent_graph`
    (guide §2.4 / §4.2): when the corpus state fits
    :func:`_pair_score_broadcast_bytes`, the seed round and every
    descent round run as ONE ``mapInArrow`` job each over the id
    relation — candidate generation (bucket mates ∪ ring, then the
    incremental two-hop local join), pair dedup, the bit-exact cosine,
    and the per-source top-``k_build`` all happen inside the kernel
    against broadcast numpy state, replacing the per-round
    [two-hop join + distinct + scoring + window + eager
    localCheckpoint] plan (≥4 exchanges and a driver-blocking job per
    round).  Between rounds the driver collects the n·k_build edge
    list (Arrow, gate-bounded — the collect-the-small-side contract
    of :func:`collect_vectors`), computes the
    undirected set and the Dong et al. new/old split with vectorized
    set algebra, and re-broadcasts the adjacency.  Parallelism is
    preserved — sources partition across tasks, so the ×10/×30 scale
    probes keep their slope.  Above the ceiling, or on NULL/sparse
    id spaces the packing cannot represent, the caller keeps the
    distributed loop verbatim (the 100 TB path).

    Bit-equality with the loop, term by term: sims use the identical
    IEEE sequence as :func:`_make_pair_topk`'s Catalyst fold (products
    then j-order accumulation, hoisted Catalyst norms, den==0 → NULL);
    candidate sets replicate seed/two-hop/∪g/distinct exactly (set
    semantics, deduped on (src, dst)); top-k selection orders by
    (_sim DESC NULLS LAST with NaN above +inf, dst ASC) — the
    row_number() window's total order; ring/bucket membership drops
    ids absent from the corpus via the found-mask (the inner-join
    semantics); the final rank + mutual flag are computed from the
    converged lists with the same ordering and the same
    reverse-membership test.

    Returns the final ``(src, dst, rank, mutual)`` DataFrame or None.
    """
    import numpy as np
    import pyarrow as pa

    st = _collect_corpus_state(base, n, dim)
    if st is None:
        return None
    ids, mat, norms, buckets = st["ids"], st["mat"], st["norms"], st["buckets"]
    pos2grp, bindptr, bmembers = st["pos2grp"], st["bindptr"], st["bmembers"]

    spark = base.sparkSession
    sc = spark.sparkContext
    b_vec = sc.broadcast((ids, st["mat_t"], norms))
    n_ids = n

    # Partition the source relation by WORK, not by core count: at
    # small n one Python task beats defaultParallelism near-empty
    # worker round-trips; at probe scale (×10/×30) this still fans out
    # to every core (512-source chunks mirror the kernel's inner
    # chunking).
    n_parts = max(1, min(sc.defaultParallelism, -(-n // 512)))
    ids_rel = (
        spark.createDataFrame(pa.table({"src": ids}))
        .repartition(n_parts)
        .localCheckpoint(eager=True)
    )

    def _run_round(payload) -> tuple:
        b_round = sc.broadcast(payload)

        def kernel(batches):
            import numpy as np
            import pyarrow as pa

            kids, kmat_t, knorms = b_vec.value
            mode = b_round.value[0]
            CH = 512  # sources per inner chunk (bounds candidate temp)

            def score(s_arr, d_arr):
                si = np.searchsorted(kids, s_arr)
                di = np.searchsorted(kids, d_arr)
                np.clip(si, 0, n_ids - 1, out=si)
                np.clip(di, 0, n_ids - 1, out=di)
                found = (kids[si] == s_arr) & (kids[di] == d_arr)
                if not found.all():
                    s_arr, d_arr = s_arr[found], d_arr[found]
                    si, di = si[found], di[found]
                if len(s_arr) == 0:
                    return s_arr, d_arr, np.empty(0), np.empty(0, bool)
                acc = np.zeros(len(s_arr), dtype=np.float64)
                for j in range(kmat_t.shape[0]):
                    acc += kmat_t[j][si] * kmat_t[j][di]
                den = knorms[si] * knorms[di]
                isnull = den == 0.0
                sims = np.zeros(len(s_arr), dtype=np.float64)
                np.divide(acc, den, out=sims, where=~isnull)
                return s_arr, d_arr, sims, isnull

            def topk_emit(s_arr, d_arr, kk):
                # dedup (src, dst), score, per-src top-kk by the
                # window's (sim DESC NULLS LAST/NaN-first, dst ASC)
                packed = np.unique(_pack_pairs(s_arr, d_arr))
                s_u = (packed >> 32).astype(np.int64)
                d_u = (packed & 0xFFFFFFFF).astype(np.int64)
                s_u, d_u, sims, isnull = score(s_u, d_u)
                if len(s_u) == 0:
                    return s_u, d_u
                # NaN strictly above +inf (Spark's double total
                # order) via its own notnan key — see _local_topk_pairs
                notnan = ~np.isnan(sims)
                key = np.where(notnan, sims, 0.0)
                key = np.where(isnull, 0.0, key)
                o = np.lexsort((d_u, -key, notnan, isnull, s_u))
                ss = s_u[o]
                starts = np.r_[0, np.flatnonzero(np.diff(ss)) + 1]
                seg_len = np.diff(np.r_[starts, len(ss)])
                rank0 = np.arange(len(ss)) - np.repeat(starts, seg_len)
                keep = rank0 < kk
                return ss[keep], d_u[o][keep]

            for batch in batches:
                if batch.num_rows == 0:
                    continue
                srcs_all = batch.column(0).to_numpy(zero_copy_only=False)
                for lo in range(0, len(srcs_all), CH):
                    srcs = srcs_all[lo: lo + CH]
                    if mode == "seed":
                        (_m, kpos2grp, kbindptr, kbmembers, kring, kn) = (
                            b_round.value
                        )
                        sp = np.searchsorted(kids, srcs)
                        grp = kpos2grp[sp]
                        st = kbindptr[grp]
                        cnt = kbindptr[grp + 1] - st
                        total = int(cnt.sum())
                        offs = np.cumsum(cnt) - cnt
                        idx = (
                            np.arange(total, dtype=np.int64)
                            - np.repeat(offs, cnt)
                            + np.repeat(st, cnt)
                        )
                        c_src = np.repeat(srcs, cnt)
                        c_dst = kbmembers[idx]
                        m = c_dst != c_src
                        parts_s = [c_src[m]]
                        parts_d = [c_dst[m]]
                        for i in range(1, kring + 1):
                            rd = (srcs + i) % kn
                            rm = rd != srcs
                            parts_s.append(srcs[rm])
                            parts_d.append(rd[rm])
                        s_arr = np.concatenate(parts_s)
                        d_arr = np.concatenate(parts_d)
                    else:
                        (
                            _m,
                            akeys,
                            aindptr,
                            adst,
                            anew,
                            gkeys,
                            gindptr,
                            gdst,
                            first,
                        ) = b_round.value
                        ownA, jarr, _ = _csr_gather(
                            akeys, aindptr, adst, srcs
                        )
                        _, newA, _ = _csr_gather(akeys, aindptr, anew, srcs)
                        s_of_a = srcs[ownA]
                        ownB, tarr, _ = _csr_gather(
                            akeys, aindptr, adst, jarr
                        )
                        _, newB, _ = _csr_gather(akeys, aindptr, anew, jarr)
                        s_rep = s_of_a[ownB]
                        keep = tarr != s_rep
                        if not first:
                            keep &= newA[ownB].astype(bool) | newB.astype(
                                bool
                            )
                        ownG, gd, _ = _csr_gather(
                            gkeys, gindptr, gdst, srcs
                        )
                        s_arr = np.concatenate([s_rep[keep], srcs[ownG]])
                        d_arr = np.concatenate([tarr[keep], gd])
                    es, ed = topk_emit(s_arr, d_arr, k_build)
                    if len(es):
                        yield pa.RecordBatch.from_arrays(
                            [
                                pa.array(es, type=pa.int64()),
                                pa.array(ed, type=pa.int64()),
                            ],
                            names=["src", "dst"],
                        )

        tbl = ids_rel.mapInArrow(kernel, schema="src long, dst long").toArrow()
        b_round.destroy()
        return (
            tbl.column("src").to_numpy(zero_copy_only=False),
            tbl.column("dst").to_numpy(zero_copy_only=False),
        )

    # -- seed ---------------------------------------------------------
    g_src, g_dst = _run_round(
        ("seed", pos2grp, bindptr, bmembers, ring, n)
    )

    # -- descent rounds (driver set algebra + per-round kernel) -------
    prev_packed = None
    for _ in range(rounds):
        und = np.unique(
            np.concatenate(
                [_pack_pairs(g_src, g_dst), _pack_pairs(g_dst, g_src)]
            )
        )
        if prev_packed is None:
            newflag = np.ones(len(und), dtype=np.int8)
            first = True
        else:
            newflag = (~_isin_sorted(und, prev_packed)).astype(np.int8)
            first = False
        u_src = (und >> 32).astype(np.int64)
        u_dst = (und & 0xFFFFFFFF).astype(np.int64)
        akeys, astarts = np.unique(u_src, return_index=True)
        aindptr = np.append(astarts, len(u_src))
        # g CSR (directed working lists, the ∪ g term)
        go = np.argsort(g_src, kind="stable")
        gs = g_src[go]
        gd = g_dst[go]
        gkeys, gstarts = np.unique(gs, return_index=True)
        gindptr = np.append(gstarts, len(gs))
        g_src, g_dst = _run_round(
            (
                "round",
                akeys,
                aindptr,
                u_dst,
                newflag,
                gkeys,
                gindptr,
                gd,
                first,
            )
        )
        prev_packed = und

    # -- final: rank + mutual from the converged lists (driver-side
    #    vectorized — the state is already gate-bounded local) --------
    def _score_pairs(s_arr, d_arr):
        si = np.searchsorted(ids, s_arr)
        di = np.searchsorted(ids, d_arr)
        np.clip(si, 0, n_ids - 1, out=si)
        np.clip(di, 0, n_ids - 1, out=di)
        found = (ids[si] == s_arr) & (ids[di] == d_arr)
        s_arr, d_arr, si, di = s_arr[found], d_arr[found], si[found], di[found]
        mat_t = st["mat_t"]
        acc = np.zeros(len(s_arr), dtype=np.float64)
        for j in range(dim):
            acc += mat_t[j][si] * mat_t[j][di]
        den = norms[si] * norms[di]
        isnull = den == 0.0
        sims = np.zeros(len(s_arr), dtype=np.float64)
        np.divide(acc, den, out=sims, where=~isnull)
        return s_arr, d_arr, sims, isnull

    packed = np.unique(_pack_pairs(g_src, g_dst))
    fs = (packed >> 32).astype(np.int64)
    fd = (packed & 0xFFFFFFFF).astype(np.int64)
    fs, fd, sims, isnull = _score_pairs(fs, fd)
    notnan = ~np.isnan(sims)
    key = np.where(notnan, sims, 0.0)
    key = np.where(isnull, 0.0, key)
    o = np.lexsort((fd, -key, notnan, isnull, fs))
    fs, fd = fs[o], fd[o]
    starts = np.r_[0, np.flatnonzero(np.diff(fs)) + 1]
    seg_len = np.diff(np.r_[starts, len(fs)])
    rank0 = np.arange(len(fs)) - np.repeat(starts, seg_len)
    keep = rank0 < k
    fs, fd, rank0 = fs[keep], fd[keep], rank0[keep]
    fwd = np.sort(_pack_pairs(fs, fd))
    mutual = _isin_sorted(_pack_pairs(fd, fs), fwd)
    out = pa.table(
        {
            "src": pa.array(fs, type=pa.int64()),
            "dst": pa.array(fd, type=pa.int64()),
            "rank": pa.array((rank0 + 1).astype(np.int32), type=pa.int32()),
            "mutual": pa.array(mutual),
        }
    )
    return spark.createDataFrame(out)


def nn_descent_graph(
    corpus: DataFrame,
    k: int = 5,
    k_build: int = 30,
    dim: int = 64,
    num_planes: int | None = None,
    rounds: int = 3,
    occupancy: int = 32,
    ring: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """k-NN graph by fixed-round NN-DESCENT (Dong, Moses & Li, WWW'11)
    — the linear-work replacement for :func:`knn_graph`'s exact
    per-cell construction, whose √n-cell sizing is n^1.5 by design.

    Three stages, each O(n) work:

    1. **Seed** — SRP-bucket locality: ``num_planes`` deterministic
       Rademacher hyperplanes (the :func:`srp_bucket` literals) bucket
       the corpus; each node's seed candidates are its bucket mates.
       Plane count auto-sizes as ``max(1, ⌈log2(n/occupancy)⌉)`` so
       expected bucket size stays ~``occupancy`` at ANY corpus scale —
       seed work is n·occupancy, not n²/2^p.  The rule is a scalar
       subquery in SQL and one parquet-metadata ``count()`` in Spark
       (the knn_graph_edges_auto convention), and the planes themselves
       replay in an external engine via ``sha256('srp:p:j')`` byte
       parity — bucketing, like everything downstream, is fully
       value-checkable.
    2. **Ring rescue** — ``ring`` extra seed edges ``src → (src+i) mod
       n``: singleton SRP buckets would otherwise leave nodes with no
       seed edges and, since NN-Descent only ever explores
       neighbors-of-neighbors, no way to EVER acquire any.  The ring
       guarantees every node starts connected for O(n·ring) work.
       Caller contract: ids are contiguous ``0..n-1`` (the testdata
       layout); pass ``ring=0`` for sparse id spaces.
    3. **Descent rounds** — ``rounds`` fixed refinement sweeps over a
       WORKING graph of ``k_build ≥ k`` edges per node (the paper's
       K): the candidate set of node u is its current neighbors plus
       all neighbors-of-neighbors over the UNDIRECTED current edge set
       (B(u) ∪ R(u) joined with itself — the paper's local join),
       scored with the bit-exact hoisted cosine, top-``k_build`` kept
       with the deterministic (sim DESC, dst ASC) tie-break; the final
       answer is the top-``k`` of the converged working lists.
       ``k_build > k`` is what makes descent converge on
       weakly-clustered data (the testdata's true 5-NN sims average
       ~0.37): a 5-edge working graph explores ≤ 100 candidates/round
       and stalls at ~0.07 recall, while the (30, 3 rounds) default
       measured 0.946 (0.966 at (25, 4) — one more round barrier for
       +0.02 recall; 0.996 at (40, 3)) — the recall sweep lives alongside the ≥ 0.9
       pin in tests/test_similarity_recall.py.  Per-round work is
       ≤ n·(2·k_build)² candidate pairs (~610/node after dedup at the
       default); fixed rounds unroll as SQL CTE levels (the
       PageRank/k-core/BPE replay idiom), so the WHOLE graph — planes,
       buckets, seed, every round, final rank and mutuality —
       value-checks externally.

    Total: O(n·(occupancy + ring + rounds·k_build²)) — LINEAR in n,
    vs the exact graph's n^1.5.

    100 TB shape: the seed join shuffles on the bucket id (bounded
    occupancy ⇒ no skew), each round shuffles O(n·k²) id PAIRS (ids
    only — vectors stay in the persisted base relation and join back
    in by id), and every window partitions by src with ≤ (2k)²+k rows
    per key.  No all-pairs relation exists at any stage.

    Output: ``(src, dst, rank, mutual)`` — drop-in for
    :func:`knn_graph` consumers (mutual-kNN clustering, graph-ANN
    beam serving).
    """
    import math

    n = corpus.count()
    if n < 2:
        raise ValueError("nn_descent_graph needs >= 2 vectors")
    p = (
        num_planes
        if num_planes is not None
        else max(1, math.ceil(math.log2(n / occupancy)))
    )
    # Base relation: id, double vector, hoisted norm, SRP bucket — one
    # corpus scan, persisted because every round's scoring join and the
    # seed bucketing all read it.
    vec_d = F.col(corpus_vec).cast("array<double>")
    base = corpus.select(
        F.col(corpus_id).alias("_id"),
        vec_d.alias("_v"),
        l2_norm(vec_d).alias("_n"),
        srp_bucket(F.col(corpus_vec), dim, p).alias("_bucket"),
    ).persist()

    # Whole-build kernel (one mapInArrow job per round, no per-round
    # exchanges/windows/checkpoints) when the corpus fits the
    # broadcast ceiling; falls through to the distributed loop above
    # it (the 100 TB path).  Output bit-equal — see the gate docstring.
    fast = _nn_descent_kernel_or_none(
        base, n, dim, k=k, k_build=k_build, rounds=rounds, ring=ring
    )
    if fast is not None:
        base.unpersist()
        return fast

    _topk = _make_pair_topk(base)

    # -- seed: bucket mates ∪ id ring --------------------------------
    bpair = (
        base.select(F.col("_id").alias("src"), "_bucket")
        .join(base.select(F.col("_id").alias("dst"), "_bucket"), "_bucket")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    cand = bpair
    if ring > 0:
        ring_df = (
            base.select(F.col("_id").alias("src"))
            .select(
                "src",
                F.explode(
                    F.array(*[F.lit(i) for i in range(1, ring + 1)])
                ).alias("_i"),
            )
            .select(
                "src",
                ((F.col("src") + F.col("_i")) % F.lit(n)).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        cand = cand.union(ring_df)
    g = _topk(cand.distinct(), k_build).localCheckpoint(eager=True)

    # -- fixed descent rounds ----------------------------------------
    # Incremental local join (Dong et al. §2.3, the "new/old" split):
    # a two-hop pair whose BOTH hops already existed in the previous
    # round's undirected edge set was generated and scored in that
    # round; every candidate that beat it there — the previous top-k —
    # is still present via the ``∪ g`` term, so it can never enter
    # this round's top-``k_build`` and dropping it is OUTPUT-IDENTICAL
    # (guide §2.3: don't regenerate pairs you have already
    # adjudicated).  Only pairs touching at least one NEW undirected
    # edge are generated: rounds near convergence emit a small
    # fraction of the full n·(2k)² join, which is where the descent
    # build's distinct/shuffle time was measured to live.
    def _hops(left: DataFrame, right: DataFrame) -> DataFrame:
        a = left.alias("a")
        b = right.alias("b")
        return (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .filter(F.col("b.dst") != F.col("a.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )

    prev_und = None
    for _ in range(rounds):
        # One checkpointed undirected edge set per round, reused by
        # both hop legs, the new/old split, and the next round.
        und = (
            g.union(
                g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        if prev_und is None:
            two_hop = _hops(und, und)
        else:
            new_und = und.join(prev_und, ["src", "dst"], "left_anti")
            old_und = und.join(prev_und, ["src", "dst"], "left_semi")
            two_hop = _hops(new_und, und).union(_hops(old_und, new_und))
        g = _topk(
            two_hop.union(g).distinct(), k_build
        ).localCheckpoint(eager=True)
        prev_und = und

    # -- final rank + mutual flag: top-k of the converged working
    #    lists --------------------------------------------------------
    out = _with_mutual(_topk(g, k, with_rank=True))
    base.unpersist()
    return out


#: At-rest kNN-graph layout (graph-ANN serving): the edge list lives
#: as Spark-written parquet under ``<index>/_graph`` with a JSON meta
#: sidecar carrying fingerprint + build params.  Edges are n·k rows —
#: corpus-sized, NOT a driver-side artifact (the quantizer-artifact
#: path would collect them); Spark writes and reads them like the IVF
#: cell layout.
_GRAPH_DIR = "_graph"
_GRAPH_META = "_graph_meta.json"


def knn_graph_persist(
    corpus: DataFrame | None,
    path: str,
    k: int = 16,
    k_build: int = 30,
    rounds: int = 3,
    occupancy: int = 32,
    ring: int = 2,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    fingerprint: str | None = None,
    rebuild: bool = False,
    spark=None,
) -> DataFrame:
    """Build (once) and serve the AT-REST kNN-graph edge list — the
    graph-ANN counterpart of the IVF family's cell-partitioned layout:
    ``<path>/_graph`` holds the :func:`nn_descent_graph` edges as
    parquet, and ``<path>/_graph_meta.json`` stamps the corpus
    fingerprint + build parameters, so a FRESH serving session reads
    the edges instead of re-running descent (the
    build-once-serve-many contract of operators/artifacts, applied to
    a corpus-SIZED artifact — n·k rows ride Spark parquet, never a
    driver-side collect).

    * ``rebuild=True`` (or a missing/stale/param-mismatched meta with
      ``corpus`` supplied) runs the descent build and lays the edges
      down;
    * otherwise the stored edge list is returned as a plain parquet
      scan — ``corpus=None`` is enough to serve.

    The graph is built DENSER than the query-facing top-5 graph
    (k=16 by default): greedy beam search navigates by edge
    expansion, and on this weakly-clustered data a degree-6
    neighborhood stalls at 0.18 recall@10 where degree ~18 reaches
    0.96 (the beam parameter sweep lives on
    :func:`graph_beam_topk`).  100 TB note: the edge list should be
    laid out bucketed by ``src`` so the per-round frontier join
    co-locates; at this scale a single directory suffices."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        read_meta,
        write_meta,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        read_table,
        write_table,
    )

    graph_dir = os.path.join(path, _GRAPH_DIR)
    params = dict(
        k=k, k_build=k_build, rounds=rounds, occupancy=occupancy,
        ring=ring, dim=dim, version=1,
    )
    ss = spark or (corpus.sparkSession if corpus is not None else None)
    if ss is None:
        raise ValueError("knn_graph_persist needs corpus or spark")
    meta = None if rebuild else read_meta(path, _GRAPH_META)
    if meta is not None:
        fp_ok = fingerprint is None or meta.get("fingerprint") == fingerprint
        # Serve path (corpus=None): the FINGERPRINT is the staleness
        # contract; the build params are descriptive metadata read back
        # from the sidecar, not an input the caller must re-guess — a
        # graph built with non-default build_graph(...) params must
        # still serve through search(method="graph")'s defaulted call
        # (ADVICE r12).  With a corpus in hand, a param mismatch means
        # "build the layout this caller actually asked for" and falls
        # through to the rebuild.
        if fp_ok and (corpus is None or meta.get("params") == params):
            return read_table(ss, graph_dir)
    if corpus is None:
        raise ValueError(
            f"no (or stale) graph layout under {graph_dir} — "
            "pass the corpus to (re)build"
        )
    edges = nn_descent_graph(
        corpus,
        k=k,
        k_build=k_build,
        dim=dim,
        rounds=rounds,
        occupancy=occupancy,
        ring=ring,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
    )
    write_table(edges, graph_dir)
    write_meta(path, _GRAPH_META, {"fingerprint": fingerprint, "params": params})
    return read_table(ss, graph_dir)


def _maintain_gate_state(base, n, dim, old_edges):
    """Shared gate for the maintain-op fast paths: corpus state + the
    old edge list (n·k rows, bounded by the same ceiling), or None.
    ``rank`` passes :func:`collect_ids`' range check before its int32
    cast, so it cannot wrap."""
    import numpy as np

    st = _collect_corpus_state(base, n, dim)
    if st is None:
        return None
    got = collect_ids(old_edges, "src", "dst", "rank")
    if got is None:
        return None
    st["o_src"], st["o_dst"], o_rank = got
    st["o_rank"] = o_rank.astype(np.int32)
    return st


def _bucket_mates_of(st, srcs):
    """(src, mate) pairs for each src's SRP bucket, self excluded —
    inner-join semantics: srcs absent from the corpus emit nothing."""
    import numpy as np

    ids = st["ids"]
    sp = np.searchsorted(ids, srcs)
    np.clip(sp, 0, len(ids) - 1, out=sp)
    found = ids[sp] == srcs
    srcs_f, sp = srcs[found], sp[found]
    grp = st["pos2grp"][sp]
    st_, cnt = st["bindptr"][grp], st["bindptr"][grp + 1] - st["bindptr"][grp]
    total = int(cnt.sum())
    offs = np.cumsum(cnt) - cnt
    idx = (
        np.arange(total, dtype=np.int64)
        - np.repeat(offs, cnt)
        + np.repeat(st_, cnt)
    )
    c_src = np.repeat(srcs_f, cnt)
    c_dst = st["bmembers"][idx]
    m = c_dst != c_src
    return c_src[m], c_dst[m]


def _maintain_finish(spark, st, g_src, g_dst, k, unt_src, unt_dst, unt_rank):
    """Final assembly shared by the maintain-op fast paths: touched
    sources' fresh top-``k`` (+1-based rank) ∪ the untouched carryover
    (stored ranks verbatim), mutual recomputed over the union —
    exactly the operators' edges/rev join."""
    import numpy as np
    import pyarrow as pa

    fs, fd, rank0 = _local_topk_pairs(st, g_src, g_dst, k, with_rank=True)
    all_src = np.concatenate([fs, unt_src])
    all_dst = np.concatenate([fd, unt_dst])
    all_rank = np.concatenate(
        [(rank0 + 1).astype(np.int32), unt_rank.astype(np.int32)]
    )
    fwd = np.sort(_pack_pairs(all_src, all_dst))
    mutual = _isin_sorted(_pack_pairs(all_dst, all_src), fwd)
    out = pa.table(
        {
            "src": pa.array(all_src, type=pa.int64()),
            "dst": pa.array(all_dst, type=pa.int64()),
            "rank": pa.array(all_rank, type=pa.int32()),
            "mutual": pa.array(mutual),
        }
    )
    return spark.createDataFrame(out)


#: Driver-side pair-score budget for the maintain-op fast paths: the
#: touched-subgraph work is Δ-bounded by design, so it normally sits
#: far below this; a delta large enough to blow the budget belongs on
#: the distributed loop.
_MAINTAIN_LOCAL_PAIR_BUDGET = 80_000_000


def _nn_descent_refresh_local_or_none(
    base, n, dim, k, k_build, rounds, ring, old_edges, delta_ids
):
    """Gated driver-side twin of :func:`nn_descent_refresh`'s
    seed → merge → rounds → final pipeline (see the call site for the
    contract).  Returns the final DataFrame or None."""
    import numpy as np

    st = _maintain_gate_state(base, n, dim, old_edges)
    got = collect_ids(delta_ids, "_did") if st is not None else None
    if got is None:
        return None
    dids = np.unique(got[0])
    ids = st["ids"]
    o_src, o_dst, o_rank = st["o_src"], st["o_dst"], st["o_rank"]

    # -- 1. delta seeding (dbkt ⋈ mates, both directions, ± ring) ----
    m_src, m_dst = _bucket_mates_of(st, dids)  # inner-join drop built in
    seed_s = [m_src, m_dst]
    seed_d = [m_dst, m_src]
    for i in list(range(1, ring + 1)) + [-i for i in range(1, ring + 1)]:
        o = (dids + i + n) % n
        mm = dids != o
        seed_s += [dids[mm], o[mm]]
        seed_d += [o[mm], dids[mm]]
    seed_packed = np.unique(
        _pack_pairs(np.concatenate(seed_s), np.concatenate(seed_d))
    )
    seed_src = (seed_packed >> 32).astype(np.int64)
    seed_dst = (seed_packed & 0xFFFFFFFF).astype(np.int64)

    # -- 2. touched / orphan / untouched / merge ---------------------
    touched = np.unique(seed_src)
    # Work-budget guard FIRST (VERDICT r14 item 8): a delta whose
    # touched subgraph would score more pairs than the budget goes
    # back to the distributed loop BEFORE paying the driver-side seed
    # scoring below — the guard needs only |touched|.
    if (
        len(touched) * (2 * k_build) ** 2 * max(rounds, 1)
        > _MAINTAIN_LOCAL_PAIR_BUDGET
    ):
        return None
    orphan_mask = ~_isin_sorted(dids, touched)
    if orphan_mask.any():
        orphans = [int(x) for x in dids[orphan_mask][:5]]
        raise ValueError(
            f"nn_descent_refresh: delta ids {orphans} have no seed "
            "candidates (ring == 0 and no SRP-bucket mate) — they would "
            "be dropped from the refreshed graph; use ring >= 1 or "
            "rebuild"
        )
    src_touched = _isin_sorted(o_src, touched)
    unt_src = o_src[~src_touched]
    unt_dst = o_dst[~src_touched]
    unt_rank = o_rank[~src_touched]
    g_src, g_dst = _local_topk_pairs(
        st,
        np.concatenate([o_src[src_touched], seed_src]),
        np.concatenate([o_dst[src_touched], seed_dst]),
        k_build,
    )

    # -- 3. rounds over the touched subgraph -------------------------
    for _ in range(rounds):
        c_src, c_dst = _local_touched_round(
            st, g_src, g_dst, unt_src, unt_dst, touched
        )
        g_src, g_dst = _local_topk_pairs(st, c_src, c_dst, k_build)

    return _maintain_finish(
        base.sparkSession, st, g_src, g_dst, k, unt_src, unt_dst, unt_rank
    )


def nn_descent_refresh(
    old_edges: DataFrame,
    corpus: DataFrame,
    delta: DataFrame,
    k: int = 16,
    k_build: int = 30,
    dim: int = 64,
    rounds: int = 2,
    occupancy: int = 32,
    ring: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """BOUNDED-DELTA refresh of the NN-Descent graph (VERDICT r12
    item 4): fold a delta into an existing descent graph WITHOUT the
    full rebuild the trajectory-dependent structure otherwise needs.

    ``old_edges`` is the at-rest graph over ``corpus \\ delta``
    (``(src, dst, rank)`` — :func:`knn_graph_persist`'s layout;
    contract: no delta id appears in it), ``corpus`` is the FULL
    updated relation, ``delta`` its new rows.  Three delta-bounded
    stages:

    1. **Delta seeding** — the full corpus is SRP-bucketed with the
       build's auto-sized plane rule (p from the NEW n); seed pairs
       are every bucket pair INVOLVING a delta node, both directions,
       plus the ±``ring`` id-window around each delta node (the build
       ring's delta-touching slice, so tail-adjacent old nodes adopt
       their new successors; contiguous-id contract as in the build).
    2. **Touched-subgraph merge** — touched = delta ∪ old nodes that
       received a seed candidate (≈ |Δ|·occupancy nodes — CONSTANT in
       corpus size at fixed Δ, the whole point).  Each touched node
       re-ranks (its old edge list ∪ its seed candidates) top
       ``k_build``; untouched nodes keep their stored edges AND
       ranks untouched.
    3. **Descent rounds over the touched subgraph only** — ``rounds``
       neighbor-of-neighbor sweeps where the two-hop join's SOURCE is
       restricted to touched nodes but routes through the whole
       current edge set (delta locality propagates via old nodes'
       lists without rewriting them); top-``k_build`` kept per
       touched node, localCheckpoint per round (the plan-explosion
       discipline).  Finally touched nodes emit their top-``k`` and
       the mutual flag recomputes over the unioned n·k edge relation.

    Work: O(n) bucketing + O(|touched|·(occupancy + rounds·k_build²))
    + the n·k mutual self-join — at a fixed delta the touched term is
    constant, so the refresh is scan-bound linear (probed in
    tools/scale_probe.py) where the rebuild re-pays the full descent.
    Recall vs the full rebuild is pinned ≥ 0.9 in
    tests/test_similarity_recall.py (trajectory-dependence means
    exact equality is NOT the contract here, unlike the
    fixed-quantizer :func:`knn_graph_append`).

    Fully deterministic given (old graph, corpus, delta) — fixed
    rounds, bit-exact hoisted cosine, (sim DESC, dst ASC) tie-breaks
    — so build + refresh replay end-to-end as one oracle CTE chain.

    Output: ``(src, dst, rank, mutual)`` — the :func:`knn_graph`
    schema over the full corpus."""
    import math

    n = corpus.count()
    if n < 2:
        raise ValueError("nn_descent_refresh needs >= 2 vectors")
    p = max(1, math.ceil(math.log2(n / occupancy)))
    vec_d = F.col(corpus_vec).cast("array<double>")
    base = corpus.select(
        F.col(corpus_id).alias("_id"),
        vec_d.alias("_v"),
        l2_norm(vec_d).alias("_n"),
        srp_bucket(F.col(corpus_vec), dim, p).alias("_bucket"),
    ).persist()
    delta_ids = delta.select(F.col(corpus_id).alias("_did")).distinct()

    # Δ-bounded fast path (guide §2.4): under the broadcast ceiling the
    # seed/touched/round/final pipeline — ~10 driver-blocking jobs of
    # joins, distincts, windows and eager checkpoints — runs as
    # vectorized set algebra over the collected state (the touched
    # subgraph is O(|Δ|·occupancy) BY DESIGN, so the pair-score work
    # is constant in n; the budget guard returns a too-large delta to
    # the distributed loop).  Same sims, same tie-breaks, same orphan
    # rule — A/B bit-equality pinned in tests.
    fast = _nn_descent_refresh_local_or_none(
        base, n, dim, k, k_build, rounds, ring, old_edges, delta_ids
    )
    if fast is not None:
        base.unpersist()
        return fast

    _topk = _make_pair_topk(base)

    # -- 1. delta seeding ---------------------------------------------
    dbkt = delta_ids.join(
        base.select(F.col("_id").alias("_did"), "_bucket"), "_did"
    )
    mates = base.select(F.col("_id").alias("_mid"), "_bucket")
    dpair = (
        dbkt.join(mates, "_bucket")
        .filter(F.col("_did") != F.col("_mid"))
        .select(F.col("_did").alias("src"), F.col("_mid").alias("dst"))
    )
    seed = dpair.union(
        dpair.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if ring > 0:
        offs = [i for i in range(1, ring + 1)] + [-i for i in range(1, ring + 1)]
        dring = delta_ids.select(
            F.col("_did"),
            F.explode(F.array(*[F.lit(i) for i in offs])).alias("_i"),
        ).select(
            "_did",
            ((F.col("_did") + F.col("_i") + F.lit(n)) % F.lit(n)).alias("_o"),
        ).filter(F.col("_did") != F.col("_o"))
        seed = seed.union(
            dring.select(F.col("_did").alias("src"), F.col("_o").alias("dst"))
        ).union(
            dring.select(F.col("_o").alias("src"), F.col("_did").alias("dst"))
        )
    seed = seed.distinct().localCheckpoint(eager=True)

    # -- 2. touched-subgraph merge --------------------------------------
    touched = seed.select("src").distinct().localCheckpoint(eager=True)
    # Every delta id must be touched or it silently vanishes from the
    # output graph (zero seed candidates -> zero edges -> no neighbor
    # list; ADVICE r13).  With ring > 0 the id-ring guarantees seeds,
    # so this only fires at ring == 0 when a delta node shares its SRP
    # bucket with nobody — an input the operator cannot serve, which
    # must be an error, not a dropped node.  |Δ| is small by contract,
    # so the anti-join check is a broadcast no-op on the green path.
    orphans = [
        r["_did"]
        for r in delta_ids.join(
            touched.select(F.col("src").alias("_did")), "_did", "left_anti"
        )
        .limit(5)
        .collect()
    ]
    if orphans:
        raise ValueError(
            f"nn_descent_refresh: delta ids {orphans} have no seed "
            "candidates (ring == 0 and no SRP-bucket mate) — they would "
            "be dropped from the refreshed graph; use ring >= 1 or "
            "rebuild"
        )
    old_kept = old_edges.select("src", "dst", "rank")
    untouched = old_kept.join(touched, "src", "left_anti").localCheckpoint(
        eager=True
    )
    g = _topk(
        old_kept.select("src", "dst").join(touched, "src").union(seed).distinct(),
        k_build,
    ).localCheckpoint(eager=True)

    # -- 3. descent rounds over the touched subgraph -------------------
    for _ in range(rounds):
        current = g.union(untouched.select("src", "dst"))
        und = current.union(
            current.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        a = und.join(touched, "src").alias("a")
        b = und.alias("b")
        two_hop = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .filter(F.col("b.dst") != F.col("a.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        g = _topk(two_hop.union(g).distinct(), k_build).localCheckpoint(
            eager=True
        )

    out = _with_mutual(_topk(g, k, with_rank=True).union(untouched))
    base.unpersist()
    return out


def _nn_descent_delete_local_or_none(
    base, n, dim, k, k_build, rounds, old_edges, dele
):
    """Gated driver-side twin of :func:`nn_descent_delete`'s
    tombstone → re-seed → rounds → final pipeline.  Returns the final
    DataFrame or None."""
    import numpy as np

    st = _maintain_gate_state(base, n, dim, old_edges)
    got = collect_ids(dele, "_del") if st is not None else None
    if got is None:
        return None
    dids = np.unique(got[0])
    o_src, o_dst, o_rank = st["o_src"], st["o_dst"], st["o_rank"]

    # -- 1. tombstone ------------------------------------------------
    kept = ~_isin_sorted(o_src, dids)
    k_src, k_dst, k_rank = o_src[kept], o_dst[kept], o_rank[kept]
    lost = _isin_sorted(k_dst, dids)
    touched = np.unique(k_src[lost])
    # Budget guard BEFORE the seed scoring (VERDICT r14 item 8)
    if (
        len(touched) * (2 * k_build) ** 2 * max(rounds, 1)
        > _MAINTAIN_LOCAL_PAIR_BUDGET
    ):
        return None
    src_touched = _isin_sorted(k_src, touched)
    unt_src = k_src[~src_touched]
    unt_dst = k_dst[~src_touched]
    unt_rank = k_rank[~src_touched]

    # -- 2. re-seed: surviving old list ∪ SRP-bucket mates -----------
    surv = src_touched & ~lost
    m_src, m_dst = _bucket_mates_of(st, touched)
    c_src = np.concatenate([k_src[surv], m_src])
    c_dst = np.concatenate([k_dst[surv], m_dst])
    cand_srcs = np.unique(c_src)
    orphan_mask = ~_isin_sorted(touched, cand_srcs)
    if orphan_mask.any():
        orphans = [int(x) for x in touched[orphan_mask][:5]]
        raise ValueError(
            f"nn_descent_delete: touched ids {orphans} have no surviving "
            "candidates (entire edge list deleted and no SRP-bucket "
            "mate) — they would be dropped from the graph; rebuild "
            "instead"
        )
    g_src, g_dst = _local_topk_pairs(st, c_src, c_dst, k_build)

    # -- 3. rounds over the touched subgraph -------------------------
    for _ in range(rounds):
        cc_src, cc_dst = _local_touched_round(
            st, g_src, g_dst, unt_src, unt_dst, touched
        )
        g_src, g_dst = _local_topk_pairs(st, cc_src, cc_dst, k_build)

    return _maintain_finish(
        base.sparkSession, st, g_src, g_dst, k, unt_src, unt_dst, unt_rank
    )


def nn_descent_delete(
    old_edges: DataFrame,
    corpus_new: DataFrame,
    deleted_ids: DataFrame,
    k: int = 16,
    k_build: int = 30,
    dim: int = 64,
    rounds: int = 1,
    occupancy: int = 32,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """DELETE from the NN-Descent graph — the last corner of the
    maintenance matrix (VERDICT r13 item 4): the quantizer graph has
    exact delete (:func:`knn_graph_delete`), the descent graph had
    only the append-shaped :func:`nn_descent_refresh`.

    Like the quantizer delete, erasure REOPENS the top-k window: a
    deleted node that occupied a slot evicted candidates the stored
    edge list no longer carries.  But the descent graph has no probe
    cells to re-rank exactly, and its structure is
    trajectory-dependent — so the contract is the refresh's, not the
    append's: deterministic replay (full value oracle) plus
    recall-vs-rebuild ≥ 0.9 (pinned in
    tests/test_similarity_recall.py), NOT bit-equality to the
    rebuild.

    Δ-bounded stages, reusing the refresh's touched-source machinery:

    1. **Tombstone** — edges whose src is deleted drop entirely;
       ``touched`` = surviving sources holding ≥ 1 deleted dst
       (≈ |Δ|·k nodes — constant in corpus size at fixed Δ).
    2. **Re-seed** — each touched node's candidates are the SURVIVORS
       of its old list plus its SRP-bucket mates in the post-delete
       corpus (auto-p from the surviving n — the build's occupancy
       rule), merged top-``k_build``.  Every other source's list
       carries over verbatim, edges AND ranks (it held no deleted
       dst, so deletion only removed candidates below its rank-k cut
       — the exact-delete argument, which is why untouched carryover
       loses no recall).
    3. **Descent rounds over the touched subgraph** — ``rounds``
       neighbor-of-neighbor sweeps with the SOURCE side restricted to
       touched nodes, routing through the full current edge set
       (untouched lists participate as routes without being
       rewritten); top-``k_build`` per touched node, localCheckpoint
       per round.  Finally touched nodes emit their top-``k`` and the
       mutual flag recomputes over the unioned edge relation.

    Work: O(n) bucketing + O(|touched|·(occupancy + k +
    rounds·k_build²)) + the n·k mutual self-join — scan-bound linear
    at fixed Δ (probed in tools/scale_probe.py), where a rebuild
    re-pays the full descent.

    Fully deterministic given (old graph, surviving corpus, Δ) —
    fixed rounds, bit-exact hoisted cosine, (sim DESC, dst ASC)
    tie-breaks — so build + delete replay end-to-end as one oracle
    CTE chain (the ``knn_graph_descent_refresh`` composition).

    ``old_edges``: ``(src, dst, rank)`` over the PRE-delete corpus;
    ``corpus_new``: the corpus AFTER the deletion (deleted rows
    gone); ``deleted_ids``: the tombstoned id set.

    Output: ``(src, dst, rank, mutual)`` — the :func:`knn_graph`
    schema over the surviving corpus."""
    import math

    n = corpus_new.count()
    if n < 2:
        raise ValueError("nn_descent_delete needs >= 2 surviving vectors")
    p = max(1, math.ceil(math.log2(n / occupancy)))
    vec_d = F.col(corpus_vec).cast("array<double>")
    base = corpus_new.select(
        F.col(corpus_id).alias("_id"),
        vec_d.alias("_v"),
        l2_norm(vec_d).alias("_n"),
        srp_bucket(F.col(corpus_vec), dim, p).alias("_bucket"),
    ).persist()
    dele = deleted_ids.select(F.col(id_col).alias("_del")).distinct()

    # Δ-bounded fast path — the refresh's driver-side twin, erasure
    # direction (see _nn_descent_refresh_local_or_none).
    fast = _nn_descent_delete_local_or_none(
        base, n, dim, k, k_build, rounds, old_edges, dele
    )
    if fast is not None:
        base.unpersist()
        return fast

    _topk = _make_pair_topk(base)

    # -- 1. tombstone: deleted srcs drop; touched = srcs losing an edge
    old_kept = old_edges.select("src", "dst", "rank").join(
        dele, F.col("src") == F.col("_del"), "left_anti"
    )
    touched = (
        old_kept.join(dele, old_kept.dst == dele._del)
        .select("src")
        .distinct()
        .localCheckpoint(eager=True)
    )
    untouched = old_kept.join(touched, "src", "left_anti").localCheckpoint(
        eager=True
    )

    # -- 2. re-seed: surviving old list ∪ SRP-bucket mates ------------
    surv_list = (
        old_kept.join(touched, "src")
        .join(dele, old_kept.dst == dele._del, "left_anti")
        .select("src", "dst")
    )
    tb = touched.join(
        base.select(F.col("_id").alias("src"), "_bucket"), "src"
    )
    mates = base.select(F.col("_id").alias("_mid"), "_bucket")
    bmate = (
        tb.join(mates, "_bucket")
        .filter(F.col("src") != F.col("_mid"))
        .select("src", F.col("_mid").alias("dst"))
    )
    cand0 = surv_list.union(bmate).distinct().localCheckpoint(eager=True)
    # Every touched node must have >= 1 surviving candidate or it
    # would silently vanish from the output graph (the
    # nn_descent_refresh orphan rule, erasure direction): possible
    # only when its ENTIRE old list was deleted AND it is alone in
    # its SRP bucket.
    orphans = [
        r["src"]
        for r in touched.join(
            cand0.select("src").distinct(), "src", "left_anti"
        )
        .limit(5)
        .collect()
    ]
    if orphans:
        raise ValueError(
            f"nn_descent_delete: touched ids {orphans} have no surviving "
            "candidates (entire edge list deleted and no SRP-bucket "
            "mate) — they would be dropped from the graph; rebuild "
            "instead"
        )
    g = _topk(cand0, k_build).localCheckpoint(eager=True)

    # -- 3. descent rounds over the touched subgraph -------------------
    for _ in range(rounds):
        current = g.union(untouched.select("src", "dst"))
        und = current.union(
            current.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        a = und.join(touched, "src").alias("a")
        b = und.alias("b")
        two_hop = (
            a.join(b, F.col("a.dst") == F.col("b.src"))
            .filter(F.col("b.dst") != F.col("a.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        g = _topk(two_hop.union(g).distinct(), k_build).localCheckpoint(
            eager=True
        )

    out = _with_mutual(_topk(g, k, with_rank=True).union(untouched))
    base.unpersist()
    return out


def knn_graph_append(
    corpus_old: DataFrame,
    delta: DataFrame,
    centroids: DataFrame,
    old_edges: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """INCREMENTAL maintenance of the quantizer-structured kNN graph
    (VERDICT r11 item 4): append a delta without rebuilding — and get
    EXACTLY the graph a full rebuild over ``old ∪ delta`` would
    produce (pinned hash-equal in tests/test_similarity_recall.py).

    Why exactness holds: :func:`knn_graph` with a FIXED coarse
    quantizer defines node u's candidate set as the members of u's
    ``n_probe`` cells, and its edges as the top-k of that set.  The
    quantizer doesn't move when data arrives, so appending only ADDS
    candidates — and top-k over a grown set equals top-k over
    (previous top-k ∪ new candidates): the top-k merge property.  (A
    candidate that fell below rank k before the append can never
    re-enter.)  Concretely:

    * old node u gains only the delta members of u's probe cells;
    * each delta node ranks the full membership of ITS probe cells;
    * merged candidate pairs = old edge list ∪ those two join legs,
      re-scored (n·k + delta-proportional pairs) and re-topped;
    * mutual flags recompute on the final n·k edge relation.

    Work is Δ-proportional: |old|·|Δ|·n_probe/c + |Δ|·(n/c)·n_probe
    pairs plus the n·k re-score, vs the full rebuild's n²·n_probe/c —
    at 100 TB with a daily 0.1 % delta that is the difference between
    a maintenance job and a re-index.  (The NN-DESCENT graph, whose
    candidate structure is trajectory-dependent, refreshes by
    periodic rebuild instead — standard graph-ANN practice; this
    exact-merge path is the quantizer-graph counterpart of
    :func:`ivf_persisted_append`.)

    Output: ``(src, dst, rank, mutual)`` — the :func:`knn_graph`
    schema, bit-identical to the rebuild."""
    crows = _quantizer_rows(
        centroids, None, True, None, centroid_id, centroid_vec,
        "knn_graph_append",
    )
    # ONE common projection per input relation — the knn_graph shape.
    old_b = _probe_lists(corpus_old, crows, n_probe, corpus_id, corpus_vec)
    new_b = _probe_lists(delta, crows, n_probe, corpus_id, corpus_vec)

    def _score(pairs: DataFrame) -> DataFrame:
        # vectors CARRIED through the cell join exactly like
        # knn_graph's own pair leg — no candidate materialization, no
        # join-back by id.
        return pairs.filter(F.col("src") != F.col("dst")).select(
            "src", "dst", _hoisted_cosine("_qvec", "_qn", "_nvec", "_nn")
        )

    # old sources meet ONLY the delta members of their probe cells;
    # delta sources rank the full membership of theirs.  On the clean
    # path the three candidate sources are DISJOINT — old edges are
    # (old, old) pairs, leg 1 is (old, delta), leg 2 is (delta, ·) —
    # and within a leg a (src, dst) pair occurs at most once (dst's
    # assigned cell is unique).  The merged relation is nonetheless
    # DEDUPED below (ADVICE r12): the streaming maintenance job's
    # crash-replay contract hands this function an old_edges that may
    # ALREADY contain the delta (job died between the edge rewrite and
    # the corpus landing), so old_edges then holds (old, delta) and
    # (delta, ·) pairs the join legs regenerate — without the dedup a
    # duplicated pair takes two row_number slots and the maintained
    # graph diverges from the rebuild.  Scores are deterministic per
    # pair, so the dropDuplicates is a no-op on the clean path and
    # makes the merge idempotent under replay.
    full = old_b.select("_id", "_vec", "_n").union(
        new_b.select("_id", "_vec", "_n")
    )
    leg_old_src = _score(_probes_of(old_b).join(_homes_of(new_b), "cell"))
    leg_new_src = _score(
        _probes_of(new_b).join(
            _homes_of(old_b).union(_homes_of(new_b)), "cell"
        )
    )
    # re-score the surviving old edges (n·k pairs), same fold
    old_scored = _score(
        old_edges.select("src", "dst")
        .join(
            full.select(
                F.col("_id").alias("src"),
                F.col("_vec").alias("_qvec"),
                F.col("_n").alias("_qn"),
            ),
            "src",
        )
        .join(
            full.select(
                F.col("_id").alias("dst"),
                F.col("_vec").alias("_nvec"),
                F.col("_n").alias("_nn"),
            ),
            "dst",
        )
    )
    sims = (
        old_scored.union(leg_old_src)
        .union(leg_new_src)
        .dropDuplicates(["src", "dst"])
    )
    return _with_mutual(
        top_k_per(sims, ["src"], [F.desc("_sim"), F.asc("dst")], k).select(
            "src", "dst", F.col("rank").cast("int").alias("rank")
        )
    )


def knn_graph_delete(
    corpus_new: DataFrame,
    deleted_ids: DataFrame,
    centroids: DataFrame,
    old_edges: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    id_col: str = "vec_id",
) -> DataFrame:
    """DELETE from the quantizer-structured kNN graph — the erasure
    counterpart of :func:`knn_graph_append`, and like it EXACT: the
    result is bit-equal to a full :func:`knn_graph` rebuild over
    ``corpus \\ Δ`` (pinned by the consuming query's oracle).

    Why deletion is harder than append, and still Δ-proportional: the
    top-k merge property does NOT run backwards — removing a node
    that OCCUPIED a top-k slot reopens the window to candidates the
    old edge list no longer carries (they fell below rank k at build
    time).  So the affected set is exactly the sources that LOSE an
    edge: ``affected = {src : (src, d) ∈ old_edges, d ∈ Δ} \\ Δ``.
    Those sources re-rank the FULL (post-delete) membership of their
    probe cells — the same per-source computation the original build
    did, restricted to |affected| ≈ |Δ|·k sources; every other
    source's candidate set only lost members below its rank-k cut, so
    its edges AND ranks carry over verbatim.  Sources in Δ drop
    entirely; mutual flags recompute on the final n·k relation.

    ``old_edges`` must carry ``(src, dst, rank)``; ``corpus_new`` is
    the corpus AFTER the deletion (the deleted vectors' rows gone).

    Output: ``(src, dst, rank, mutual)`` — the :func:`knn_graph`
    schema, bit-identical to the rebuild."""
    crows = _quantizer_rows(
        centroids, None, True, None, centroid_id, centroid_vec,
        "knn_graph_delete",
    )
    dele = deleted_ids.select(F.col(id_col).alias("_del")).distinct()

    old_kept = old_edges.select("src", "dst", "rank")
    # sources that lose an edge to a deleted dst (minus deleted srcs)
    affected = (
        old_kept.join(dele, old_kept.dst == dele._del)
        .select("src")
        .distinct()
        .join(dele, F.col("src") == F.col("_del"), "left_anti")
        .localCheckpoint(eager=True)
    )
    survivors = (
        old_kept.join(dele, old_kept.src == dele._del, "left_anti")
        .join(affected, "src", "left_anti")
    )

    # re-rank the affected sources over their probe cells' post-delete
    # membership — the knn_graph pair leg restricted to |affected| srcs
    both = _probe_lists(corpus_new, crows, n_probe, corpus_id, corpus_vec)
    probes = _probes_of(both.join(affected, both._id == affected.src))
    sims = (
        probes.join(_homes_of(both), "cell")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst", _hoisted_cosine("_qvec", "_qn", "_nvec", "_nn"))
    )
    recomputed = top_k_per(
        sims, ["src"], [F.desc("_sim"), F.asc("dst")], k
    ).select("src", "dst", F.col("rank").cast("int").alias("rank"))
    return _with_mutual(survivors.union(recomputed))


def _beam_rounds_kernel_or_none(
    edges: DataFrame,
    base: DataFrame,
    q: DataFrame,
    beam: int,
    rounds: int,
):
    """Gated single-crossing executor for :func:`graph_beam_topk`'s
    round loop (guide §4.2 / §2.4): when the corpus state
    (``node``, ``_v``, ``_n`` — n·(dim+2)·8 bytes) AND the edge list
    (16 bytes/row) both fit :func:`_pair_score_broadcast_bytes`, the
    entry rows stream through ONE ``mapInArrow`` kernel that runs all
    ``rounds`` beam expansions against broadcast numpy state and emits
    the visited set ``(query_id, node, _sim)`` — replacing, per round,
    a frontier join + distinct + two scoring joins + dedup + an eager
    ``localCheckpoint`` (4 driver-blocking jobs for 3 rounds) with one
    lazy pipeline.  The QUERY side stays distributed: per-task state is
    its partition's queries × O(beam·degree·rounds) — the broadcast is
    corpus-bounded by the same ceiling as the descent twins, and
    above the ceiling (the 100 TB path) the caller keeps the join loop
    verbatim.

    Bit-equality with the join loop, term by term:

    * sims — same IEEE binary64 sequence as the Catalyst
      ``zip_with``+``aggregate`` left fold: per element
      ``qv[j]·v[j]``, accumulated j = 0..dim−1 seeded at 0.0 (the
      numpy loop applies the same ops in the same order, vectorized
      across nodes); denominators use the hoisted ``_qn``/``_n``
      columns verbatim (computed by the Catalyst fold itself and
      crossing through Arrow as exact doubles); ``den == 0`` yields an
      explicit Arrow NULL (never NaN) — the ``when`` guard's algebra.
    * NULL-poisoned queries — a NULL query vector/element/norm or a
      dimension mismatch makes EVERY sim of that query NULL through
      Catalyst's fold algebra; the kernel short-circuits to the same
      all-NULL sims.
    * beam selection — rank by (non-NULL first, sim DESC with NaN
      above +inf — Spark's double total order — node ASC), exactly
      ``row_number() OVER (ORDER BY _sim DESC NULLS LAST, node)``.
    * membership — frontier ids absent from the corpus drop via the
      searchsorted found-mask, the inner-join semantics of
      ``_scored``; visited-set dedup is exact set semantics (sims are
      deterministic, so dropDuplicates' arbitrary-row choice is
      value-identical).

    Returns ``(kernel_fn, n, min_id)`` — with
    ``kernel_fn(entry_df) -> DataFrame(query_id, node, _sim)`` plus the
    corpus row count and minimum id read off the collected state (so
    entry modes skip their own ``count()``/``min()`` driver jobs) — or
    None (fallback to the join loop).
    """
    import numpy as np
    from pyspark.sql import types as T

    # query_id must already be LongType — the kernel emits
    # `query_id long`, so any other input dtype would change the output
    # schema where the join loop preserves it (and a non-integral query
    # id would cast to NULL and crash int() in the executor).
    if not isinstance(q.schema["query_id"].dataType, T.LongType):
        return None
    got = collect_ids(edges, "src", "dst")
    # The gate probes the real dim before the bounded collect, so a
    # wide corpus above the ceiling never pulls more than the byte
    # budget into the driver (ADVICE r14).
    st = collect_vectors(base, "node") if got is not None else None
    if st is None:
        return None
    e_src, e_dst = got
    ids, mat, norms = st["ids"], st["mat"], st["norms"]
    # Undirected CSR keyed on raw src id; dst stays a raw id so the
    # found-mask at scoring reproduces the inner-join drop exactly.
    und_src = np.concatenate([e_src, e_dst])
    und_dst = np.concatenate([e_dst, e_src])
    eorder = np.argsort(und_src, kind="stable")
    und_src = und_src[eorder]
    und_dst = und_dst[eorder]
    adj_keys, starts = np.unique(und_src, return_index=True)
    indptr = np.append(starts, len(und_src))

    spark = base.sparkSession
    mat_t = np.ascontiguousarray(mat.T)
    b_state = spark.sparkContext.broadcast(
        (ids, mat_t, norms, adj_keys, indptr, und_dst)
    )
    n_ids = len(ids)

    def kernel_fn(entry_df: DataFrame) -> DataFrame:
        inp = (
            entry_df.join(F.broadcast(q), "query_id")
            .select(
                F.col("query_id").cast("long").alias("query_id"),
                F.col("node").cast("long").alias("node"),
                F.col("_qv"),
                F.col("_qn"),
            )
            # all entry rows of a query in one task (bucket_all seeds
            # a whole bucket); tiny relation, one cheap exchange — no
            # explicit partition count, so AQE coalesces a small query
            # batch to a handful of Python tasks instead of 200
            # near-empty worker round-trips, and still fans a large
            # serve batch out by bytes (scale-adaptive, guide §2.2)
            .repartition(F.col("query_id"))
        )

        def kernel(batches):
            import numpy as np
            import pyarrow as pa

            kids, kmat_t, knorms, kadj_keys, kindptr, kund_dst = (
                b_state.value
            )
            ndim = kmat_t.shape[0]
            kn = len(kids)

            qs: dict = {}
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                bq = batch.column(0).to_numpy(zero_copy_only=False)
                bn = batch.column(1).to_numpy(zero_copy_only=False)
                qv_col = batch.column(2)
                qn_col = batch.column(3)
                for i in range(batch.num_rows):
                    qid = int(bq[i])
                    ent = qs.get(qid)
                    if ent is None:
                        v = qv_col[i].as_py()
                        nrm = qn_col[i].as_py()
                        bad = (
                            v is None
                            or nrm is None
                            or len(v) != ndim
                            or any(x is None for x in v)
                        )
                        qs[qid] = [
                            None if bad else np.asarray(v, dtype=np.float64),
                            nrm,
                            [int(bn[i])],
                        ]
                    else:
                        ent[2].append(int(bn[i]))

            out_q: list = []
            out_n: list = []
            out_s: list = []
            out_m: list = []
            for qid, (qv, qn, entries) in qs.items():

                def score(nodes):
                    si = np.searchsorted(kids, nodes)
                    np.clip(si, 0, kn - 1, out=si)
                    found = kids[si] == nodes
                    nodes = nodes[found]
                    si = si[found]
                    if len(nodes) == 0:
                        return (
                            nodes,
                            np.empty(0, np.float64),
                            np.empty(0, bool),
                        )
                    if qv is None:
                        return (
                            nodes,
                            np.zeros(len(nodes), np.float64),
                            np.ones(len(nodes), bool),
                        )
                    acc = np.zeros(len(nodes), dtype=np.float64)
                    for j in range(ndim):
                        acc += qv[j] * kmat_t[j][si]
                    den = qn * knorms[si]
                    isnull = den == 0.0
                    sims = np.zeros(len(nodes), dtype=np.float64)
                    np.divide(acc, den, out=sims, where=~isnull)
                    return nodes, sims, isnull

                vis_nodes, vis_sims, vis_null = score(
                    np.unique(np.asarray(entries, dtype=np.int64))
                )
                for _ in range(rounds):
                    if len(vis_nodes) == 0:
                        break
                    # Spark total order: NaN strictly > +inf (its own
                    # notnan key, never folded to inf); NULLS LAST
                    notnan = ~np.isnan(vis_sims)
                    key = np.where(notnan, vis_sims, 0.0)
                    key = np.where(vis_null, 0.0, key)
                    sel = np.lexsort(
                        (vis_nodes, -key, notnan, vis_null)
                    )[:beam]
                    neigh = []
                    for x in vis_nodes[sel]:
                        i = np.searchsorted(kadj_keys, x)
                        if i < len(kadj_keys) and kadj_keys[i] == x:
                            neigh.append(kund_dst[kindptr[i]: kindptr[i + 1]])
                    if not neigh:
                        continue
                    frontier = np.unique(np.concatenate(neigh))
                    new = frontier[~np.isin(frontier, vis_nodes)]
                    if len(new) == 0:
                        continue
                    nn_, ss_, mm_ = score(new)
                    vis_nodes = np.concatenate([vis_nodes, nn_])
                    vis_sims = np.concatenate([vis_sims, ss_])
                    vis_null = np.concatenate([vis_null, mm_])
                out_q.append(np.full(len(vis_nodes), qid, dtype=np.int64))
                out_n.append(vis_nodes)
                out_s.append(vis_sims)
                out_m.append(vis_null)
            if out_q:
                oq = np.concatenate(out_q)
                on = np.concatenate(out_n)
                os_ = np.concatenate(out_s)
                om = np.concatenate(out_m)
                step = 1 << 17
                for lo in range(0, len(oq), step):
                    hi = lo + step
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(oq[lo:hi], type=pa.int64()),
                            pa.array(on[lo:hi], type=pa.int64()),
                            pa.array(
                                os_[lo:hi],
                                type=pa.float64(),
                                mask=om[lo:hi],
                            ),
                        ],
                        names=["query_id", "node", "_sim"],
                    )

        return inp.mapInArrow(
            kernel, schema="query_id long, node long, _sim double"
        )

    return kernel_fn, int(n_ids), int(ids[0])


def _bucket_entry(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    query_id: str,
    query_vec: str,
    dim: int,
    entry_occupancy: int,
    n: int | None = None,
    gmin=None,
) -> DataFrame:
    """Per-query SRP-bucket entry for beam search: same plane-count
    rule and literal hyperplanes as the descent seed, so the oracle
    reuses the chain's bkt CTE verbatim.  bmin is a corpus-side
    partial aggregate (2^p ≈ n/occupancy rows — AQE broadcasts it
    while it is small; at the 10^9-corpus end it is a plain hash join
    keyed on the bucket, still linear).  The global-min fallback
    covers queries hashing into an empty bucket (impossible for
    corpus-member queries).  ``n``/``gmin`` are optional precomputed
    hints (the beam kernel's bounded collect already knows both) that
    skip the count/min driver jobs — values identical by construction."""
    import math

    if n is None:
        n = corpus.count()
    p = max(1, math.ceil(math.log2(n / entry_occupancy)))
    bmin = (
        corpus.select(
            F.col(corpus_id).alias("node"),
            srp_bucket(F.col(corpus_vec), dim, p).alias("_b"),
        )
        .groupBy("_b")
        .agg(F.min("node").alias("_bnode"))
    )
    qb = queries.select(
        F.col(query_id).alias("query_id"),
        srp_bucket(F.col(query_vec), dim, p).alias("_b"),
    )
    if gmin is None:
        gmin = corpus.agg(F.min(corpus_id)).collect()[0][0]
    return qb.join(bmin, "_b", "left").select(
        "query_id", F.coalesce("_bnode", F.lit(gmin)).alias("node")
    )


def graph_beam_topk(
    edges: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    beam: int = 8,
    rounds: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    entry_id: int | None = None,
    dim: int = 64,
    entry_occupancy: int = 32,
    predicate: Column | str | None = None,
    attrs: list[str] | None = None,
    entry_mode: str = "bucket",
) -> DataFrame:
    """Graph-ANN SERVING: fixed-round greedy beam search over a kNN
    edge list — the HNSW-layer-0 idiom (Malkov & Yashunin 2016)
    completing the build-graph→serve story the IVF family already
    has.  The DEFAULT entry point is per-query: the minimum corpus id
    in the query's SRP bucket (the same auto-sized hyperplanes the
    descent seed uses — the bucket plays the role of HNSW's upper
    layers, dropping the search into the query's own neighborhood
    instead of navigating from one global entry across the graph's
    whole diameter), falling back to the global min id for an empty
    bucket; pass ``entry_id`` to pin a single global entry instead.
    Each round expands the current beam's UNDIRECTED neighbors via
    the edge list, accumulates them into the visited set (scored ONCE
    at discovery — later beam selections are pure windows over
    carried state), and keeps the ``beam`` best visited by exact
    cosine; the answer is the top-``k`` of everything visited.  Fixed
    rounds + deterministic (sim DESC, node ASC) tie-breaks make the
    whole search an unrolled CTE chain — the same replay idiom as
    NN-Descent itself — so beam navigation value-checks externally.

    Parameter sweep on the sf0.1 testdata (k=16 graph): bucket entry
    + beam=8 × 3 rounds → recall@10 0.962 visiting ~151 of 2000
    nodes; from a single global entry the same recall needs 5 rounds
    and ~357 visited (the bucket entry buys the diameter hops); over
    the sparse top-5 graph the search stalls at 0.18–0.46 — serve
    from the dense at-rest graph (:func:`knn_graph_persist`).

    100 TB shape: per-query state is O(beam·degree·rounds) node ids —
    CONSTANT in corpus size (the whole point vs IVF's
    |cell|-proportional candidate lists); the per-round work is one
    join of (queries × beam) against the src-keyed edge list plus one
    corpus join to score the frontier, and the query side stays
    broadcast throughout.  A million queries = a million independent
    beam states advancing in the same three dataframe joins.

    ``predicate`` (with the ``attrs`` columns it reads, carried from
    the corpus) turns this into FILTERED graph-ANN — the filtered-HNSW
    idiom (VERDICT r12 item 5): the beam NAVIGATES through
    non-matching nodes unchanged (pruning them from traversal
    disconnects the walk exactly when the filter is selective — the
    known filtered-graph failure mode), and the predicate lands only
    on the FINAL answer window, so every emitted row qualifies while
    the visited set stays the unfiltered walk's.  Post-filtering a
    plain top-k would instead return ~selectivity·k qualifying rows.

    ``entry_mode="layer"`` replaces the SRP-bucket entry with the
    two-layer HIERARCHICAL entry (VERDICT r12 item 7 — the actual
    HNSW hierarchy): a deterministic ⌈√n⌉-node sampled layer (ids
    ≡ 0 mod ⌊n/⌈√n⌉⌋ — the id grid, fully SQL-expressible) is scored
    exactly per query and the argmax is the entry.  The layer scan is
    O(√n) per query — still corpus-sublinear — and buys a
    best-in-layer entry where the bucket entry only guarantees
    same-bucket locality; measured on sf0.1 it reaches equal recall
    one round earlier (the (visited, recall) points live in
    tests/test_similarity_recall.py).

    Output: ``(query_id, neighbor_id, rank, sim)`` — the
    brute_force_topk serving schema.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).cast("array<double>").alias("_qv"),
        l2_norm(F.col(query_vec).cast("array<double>")).alias("_qn"),
    )
    base = corpus.select(
        F.col(corpus_id).alias("node"),
        F.col(corpus_vec).cast("array<double>").alias("_v"),
        l2_norm(F.col(corpus_vec).cast("array<double>")).alias("_n"),
        *[F.col(a) for a in (attrs or [])],
    )
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def _scored(pairs: DataFrame) -> DataFrame:
        # Score (query, node) pairs once, at discovery time — the
        # similarity is deterministic, so the visited set CARRIES its
        # sims forward (and its filter attrs, for the predicate leg)
        # and later beam selections are pure windows over state
        # instead of re-joining the corpus every round.
        s = pairs.join(base, "node").join(F.broadcast(q), "query_id")
        denom = F.col("_qn") * F.col("_n")
        return s.select(
            "query_id",
            "node",
            F.when(denom == 0, F.lit(None))
            .otherwise(dot_product(F.col("_qv"), F.col("_v")) / denom)
            .alias("_sim"),
            *[F.col(a) for a in (attrs or [])],
        )

    # every cut below — entry pick, beam, answer — ranks by this order
    order = [F.desc("_sim"), F.asc("node")]

    # Gate the single-crossing round-loop kernel FIRST: its bounded
    # collect doubles as the corpus count / min-id the entry modes
    # otherwise pay separate driver jobs for.
    _kres = _beam_rounds_kernel_or_none(edges, base, q, beam, rounds)
    kernel_fn, _n_hint, _gmin_hint = _kres if _kres is not None else (
        None,
        None,
        None,
    )

    if entry_id is not None:
        entry_df = q.select("query_id", F.lit(entry_id).alias("node"))
    elif entry_mode in ("layer", "hybrid"):
        # Two-layer hierarchical entry: exact top-1 over a ⌈√n⌉-node
        # deterministic id-grid layer (node ≡ 0 mod ⌊n/⌈√n⌉⌋).  The
        # layer×queries score is a broadcast cross product BY
        # CONSTRUCTION (no equi key exists between a query and a layer
        # sample) — both sides small by contract: |queries| × ⌈√n⌉
        # rows, the PQ-ADC LUT allowlist reasoning.  O(√n) work per
        # query, sublinear in the corpus, replayable in SQL as the
        # same modulo grid + one QUALIFY window.
        import math

        n = _n_hint if _n_hint is not None else corpus.count()
        # the same ⌈√n⌉/⌊n/⌈√n⌉⌋ arithmetic the oracle's scalar
        # subquery computes — IEEE sqrt + ceil in both engines
        stride = max(1, n // math.ceil(math.sqrt(n)))
        layer = base.select("node").filter(
            F.col("node") % F.lit(stride) == 0
        )
        layer_pairs = layer.crossJoin(
            F.broadcast(q.select("query_id"))
        )
        entry_df = top_k_per(
            _scored(layer_pairs), ["query_id"], order, 1, "_er"
        ).select("query_id", "node")
        if entry_mode == "hybrid":
            # layer argmax ∪ SRP-bucket mate: two seeds per query —
            # the grid buys a global best-of-√n foothold, the bucket
            # buys same-plane-signs locality; measured on this corpus
            # the bucket seed dominates (see the sweep in
            # tests/test_similarity_recall.py)
            entry_df = entry_df.union(
                _bucket_entry(
                    corpus, queries, corpus_id, corpus_vec,
                    query_id, query_vec, dim, entry_occupancy,
                )
            ).distinct()
    elif entry_mode == "bucket_all":
        # OUT-OF-CORPUS entry: seed the walk with the query's WHOLE
        # SRP bucket (~occupancy mates, global-min fallback when
        # empty) instead of one node.  A corpus-member query enters
        # at itself and navigates outward, but a held-out query's
        # single best bucket mate is often far on weakly-clustered
        # data and the greedy walk cannot cross the graph (measured
        # 0.31–0.34 recall@10 from single entries); seeding every
        # mate makes round 1 an IVF-style probe of the entry
        # neighborhood that the beam then REFINES along edges —
        # occupancy is held by the auto-p rule, so entry cost stays
        # constant in n.
        import math

        n = _n_hint if _n_hint is not None else corpus.count()
        p = max(1, math.ceil(math.log2(n / entry_occupancy)))
        mates = corpus.select(
            F.col(corpus_id).alias("node"),
            srp_bucket(F.col(corpus_vec), dim, p).alias("_b"),
        )
        qb = queries.select(
            F.col(query_id).alias("query_id"),
            srp_bucket(F.col(query_vec), dim, p).alias("_b"),
        )
        gmin = (
            _gmin_hint
            if _gmin_hint is not None
            else corpus.agg(F.min(corpus_id)).collect()[0][0]
        )
        entry_df = qb.join(mates, "_b", "left").select(
            "query_id", F.coalesce("node", F.lit(gmin)).alias("node")
        )
    elif entry_mode == "bucket_argmax":
        # Score the query's WHOLE SRP bucket (~occupancy mates) and
        # enter at the argmax — the "upper layer" that actually helps
        # on this corpus is the query's own bucket, scored exactly,
        # not a global id grid (sweep in tests/test_similarity_recall)
        import math

        n = _n_hint if _n_hint is not None else corpus.count()
        p = max(1, math.ceil(math.log2(n / entry_occupancy)))
        mates = corpus.select(
            F.col(corpus_id).alias("node"),
            srp_bucket(F.col(corpus_vec), dim, p).alias("_b"),
        )
        qb = queries.select(
            F.col(query_id).alias("query_id"),
            srp_bucket(F.col(query_vec), dim, p).alias("_b"),
        )
        gmin = (
            _gmin_hint
            if _gmin_hint is not None
            else corpus.agg(F.min(corpus_id)).collect()[0][0]
        )
        cand = qb.join(mates, "_b", "left").select(
            "query_id", F.coalesce("node", F.lit(gmin)).alias("node")
        )
        entry_df = top_k_per(
            _scored(cand), ["query_id"], order, 1, "_er"
        ).select("query_id", "node")
    else:
        entry_df = _bucket_entry(
            corpus, queries, corpus_id, corpus_vec,
            query_id, query_vec, dim, entry_occupancy,
            n=_n_hint, gmin=_gmin_hint,
        )

    if kernel_fn is not None:
        # One lazy mapInArrow crossing replaces the whole round loop
        # (entry scoring + rounds × [frontier join, distinct, scoring
        # joins, dedup, eager localCheckpoint]); attrs re-attach from
        # the corpus afterwards — the visited set is tiny
        # (O(queries · beam·degree·rounds)), so this broadcast join
        # costs less than carrying attrs through the walk.
        vis = kernel_fn(entry_df)
        if attrs:
            vis = vis.join(
                F.broadcast(
                    corpus.select(
                        F.col(corpus_id).alias("node"),
                        *[F.col(a) for a in attrs],
                    )
                ),
                "node",
            )
    else:
        vis = _scored(entry_df).localCheckpoint(eager=True)
        beam_df = vis.select("query_id", "node")
        for _ in range(rounds):
            frontier = (
                beam_df.join(und, beam_df.node == und.src)
                .select("query_id", F.col("dst").alias("node"))
                .distinct()
            )
            vis = (
                vis.union(_scored(frontier))
                .dropDuplicates(["query_id", "node"])
                .localCheckpoint(eager=True)
            )
            beam_df = top_k_per(
                vis, ["query_id"], order, beam, "_rn"
            ).select("query_id", "node")
    final = vis.filter(F.col("node") != F.col("query_id"))
    if predicate is not None:
        # score-and-keep: the predicate restricts the ANSWER window
        # only — traversal above walked through non-matching nodes
        # (attrs rode the visited state, so no corpus re-join here)
        final = final.filter(
            F.expr(predicate) if isinstance(predicate, str) else predicate
        )
    return top_k_per(final, ["query_id"], order, k).select(
        "query_id",
        F.col("node").alias("neighbor_id"),
        F.col("rank").cast("int").alias("rank"),
        F.col("_sim").alias("sim"),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedy selection of ``k`` results from a ``pool``-sized
    relevance shortlist, each step picking

        argmax_d  λ·sim(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s)

    — the redundancy-penalizing re-rank that search/RAG stacks run on
    top of ANN shortlists (the greedy counterpart of the quota-based
    ivf_diverse_topk).

    Greedy MMR is sequential in k — the one shape Catalyst genuinely
    cannot express without unrolling k dependent plan levels (tried:
    the unroll re-executes each level's window subplan under every
    later union, dozens of stages for 40 output rows).  So the greedy
    runs where sequential-per-group logic belongs: ``applyInPandas``
    over query_id groups.  The distribution story is unchanged — the
    corpus is touched ONLY by the one shortlist scan (broadcast query
    side, one top-k cut; compose over an IVF serve for billion-row
    corpora), then ONE shuffle keyed on query_id moves pool-sized
    groups to the greedy kernel; a million queries = a million
    independent groups.

    Cross-engine exactness (the brute_force_topk_pandas doctrine):
    the pairwise pool sims inside the kernel run as a sequential fold
    over the dimension axis — bit-identical to the Catalyst fold and
    DuckDB's list_cosine_similarity; relevance sims arrive from the
    Catalyst projection through Arrow (exact float64 round-trip);
    λ = 0.5 and 1−λ = 0.5 are exactly representable so the objective
    is two exact scalings and one subtraction; max over the selected
    set is order-independent; ties break by doc_id.  The final 9-dp
    round happens ENGINE-side (F.round), matching the oracle's
    round().

    Output: ``(query_id, doc_id, rank, mmr_score)`` — ``mmr_score``
    is the selection objective at pick time (level 1: the raw
    relevance sim), rounded to 9 dp.
    """
    import numpy as np
    import pandas as pd

    if not (0.0 < lam < 1.0):
        raise ValueError("lam must be in (0, 1)")
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qv")
    )
    # Shortlist: one corpus scan, query side broadcast, one top-pool
    # cut per query.
    sims = (
        corpus.select(
            F.col(corpus_id).alias("doc_id"), F.col(corpus_vec).alias("_dv")
        )
        .join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.col("_dv").cast("array<double>").alias("_dv"),
            cosine_similarity(F.col("_qv"), F.col("_dv")).alias("simq"),
        )
    )
    # A zero-norm doc (or query) arrives with simq = NULL under
    # cosine_similarity's null contract; inside the greedy kernel a
    # NaN-scored candidate could win selection through the first
    # iteration's `best_key is None` branch (NaN comparisons are False
    # ever after), diverging from the oracle.  Drop null-relevance
    # candidates BEFORE the kernel — a doc with no defined relevance
    # can never be selected, matching the SQL twin where NULL never
    # survives the shortlist QUALIFY (ADVICE r11).
    cand = top_k_per(
        sims.filter(F.col("simq").isNotNull()),
        ["query_id"],
        [F.desc("simq"), F.asc("doc_id")],
        pool,
        "_rn",
    ).select("query_id", "doc_id", "_dv", "simq")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        simq = pdf["simq"].to_numpy(dtype=np.float64)
        C = np.stack(pdf["_dv"].to_numpy()).astype(np.float64)
        n = len(ids)
        # pairwise cosine, sequential fold over dims (bit-exact twin
        # of the Catalyst/DuckDB fold)
        dot = np.zeros((n, n), dtype=np.float64)
        sq = np.zeros(n, dtype=np.float64)
        for j in range(C.shape[1]):
            dot = dot + C[:, j, None] * C[None, :, j]
            sq = sq + C[:, j] * C[:, j]
        norm = np.sqrt(sq)
        denom = norm[:, None] * norm[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            psim = dot / denom
        psim = np.where(denom == 0.0, -np.inf, psim)
        taken: list[int] = []
        out_rank: list[int] = []
        out_score: list[float] = []
        for step in range(1, min(k, n) + 1):
            best_i, best_key = -1, None
            for i in range(n):
                if i in taken:
                    continue
                if step == 1:
                    score = simq[i]
                else:
                    maxs = max(psim[i, t] for t in taken)
                    score = lam * simq[i] - (1.0 - lam) * maxs
                key = (-score, ids[i])
                if best_key is None or key < best_key:
                    best_i, best_key = i, key
            taken.append(best_i)
            out_rank.append(step)
            out_score.append(-best_key[0])
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "doc_id": ids[taken],
                "rank": np.array(out_rank, dtype=np.int32),
                "mmr_score": np.array(out_score, dtype=np.float64),
            }
        )

    picked = cand.groupBy("query_id").applyInPandas(
        greedy, schema="query_id bigint, doc_id bigint, rank int, mmr_score double"
    )
    return picked.select(
        "query_id", "doc_id", "rank", F.round("mmr_score", 9).alias("mmr_score")
    )


def ivf_persisted_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    path: str,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    rebuild: bool = True,
    n_probe: int = 1,
    fingerprint: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """IVF with the index PERSISTED as a cell-partitioned parquet
    layout — the serving half of the ANN story that :func:`ivf_topk`'s
    docstring promises ("at rest the cell id should be the storage
    partition key").  Two phases, both scale-shaped:

    1. **index build** (``rebuild=True``): one corpus scan assigns each
       vector to its nearest centroid (:func:`_fixed_cell_expr` — the
       bit-exact quantizer, so an external engine can replay the
       layout) and lays the table down ``partitionBy(cell)`` — at
       100 TB this is the one-off index-build job, amortized over
       every later query.
    2. **serve**: the query set's cells are computed the same way, the
       DISTINCT probed cells are collected (queries are small by
       contract — this is the same driver-side reduction the broadcast
       join performs) and pushed as a STATIC ``cell IN (...)``
       predicate on the read — the scan touches ONLY the probed cells'
       directories (PartitionFilters, asserted in tests), i.e. cost is
       |probed cells| / |cells| of the corpus, not a full pass.  The
       broadcast join back to the query vectors and the per-query
       top-k window are the same plan tail as :func:`ivf_topk_fixed`,
       so results are identical to the in-flight twin and the same
       DuckDB oracle value-checks them.

    ``n_probe`` > 1 is multi-probe: each query is assigned its
    ``n_probe`` NEAREST cells (ranked, bit-exact —
    :func:`_fixed_probe_cells_expr`) and exploded to (query, cell)
    rows; the rest of the plan is UNCHANGED — the static IN predicate
    simply covers more directories, the broadcast join key is still
    the cell, and the per-query top-k window already ranks across the
    union of probed cells.  The standard recall/scan-cost dial: cost
    is n_probe/|cells| of the corpus per query batch.

    The quantizer is AT REST with the index (VERDICT r10 item 1): the
    build writes the centroid table under ``<path>/_quantizer/`` (after
    the index overwrite — Spark ignores underscore-prefixed entries on
    read), and ``centroids=None`` with ``rebuild=False`` serves from
    the stored artifact — a fresh session needs nothing but the index
    directory.  ``fingerprint`` stamps (build) / verifies (load) the
    corpus identity so a stale artifact is never silently served.

    ``batch_id`` selects the STREAM-MAINTAINED layout
    ``cell=…/batch_id=…`` (two partition levels; serving still prunes
    on the top-level cell): the base build stamps its rows with this
    id, and each :func:`ivf_persisted_append` micro-batch lands in its
    own ``batch_id`` subpartitions via dynamic partition overwrite —
    the idempotent-replay layout the streaming maintenance job needs
    (ADVICE r10).  The batch-maintained layout (``batch_id=None``)
    stays single-level.
    """
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        save_centroids,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    crows = _quantizer_rows(
        centroids, path, rebuild, fingerprint, centroid_id, centroid_vec,
        "ivf_persisted_topk",
    )
    if rebuild:
        assigned = _assigned_cells(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.col(corpus_vec).alias("_nvec"),
            ),
            crows,
            ["neighbor_id", "_nvec"],
            "_nvec",
        )
        if batch_id is not None:
            assigned = assigned.withColumn("batch_id", F.lit(int(batch_id)))
            write_table(assigned, path, partition_by=["cell", "batch_id"])
        else:
            write_table(assigned, path, partition_by=["cell"])
        save_centroids(path, crows, fingerprint=fingerprint)

    q_assigned, index = _probed_scan(
        queries,
        crows,
        path,
        query_vec,
        n_probe,
        [F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec")],
        single=n_probe <= 1,
    )
    pairs = index.join(F.broadcast(q_assigned), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sims = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        cosine_similarity(F.col("_qvec"), F.col("_nvec")).alias("_sim"),
    )
    # partition-directory values read back as int; the in-flight twin
    # (and the oracle) type the cell id long
    return top_k_per(
        sims, ["query_id"], [F.desc("_sim"), F.asc("neighbor_id")], k, "_rn"
    ).select("query_id", F.col("cell").cast("long").alias("cell"), "neighbor_id")


def ivf_persisted_append(
    new_corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    batch_id: int | None = None,
) -> None:
    """Incremental maintenance for the persisted IVF layout — the
    daily-increment primitive :func:`ivf_persisted_topk`'s build phase
    implies at 100 TB: a new embedding shard is assigned with the SAME
    bit-exact quantizer (same centroid table, same
    :func:`_fixed_cell_expr` fold, so an appended vector lands in
    exactly the cell a full rebuild would give it) and APPENDED into
    the existing cell-partitioned directories — cost is one scan of
    the DELTA, never a rebuild of the index.  Hive-layout parquet
    append only adds files inside each touched ``cell=`` directory, so
    concurrent serving keeps its partition pruning and, by assignment
    determinism, ``serve(base ∪ delta)`` is byte-identical to a full
    rebuild over the union — which is exactly what the oracle of any
    consuming query checks (the same argument
    overwrite_partitions makes for the date-partitioned fact tables).

    Plain parquet append is at-least-once: a RETRIED increment lands
    its vectors twice.  ``batch_id`` (ADVICE r10) makes replay
    idempotent for the stream-maintained layout: the delta is stamped
    with its micro-batch id and written via DYNAMIC PARTITION
    OVERWRITE on ``(cell, batch_id)`` — a replayed batch overwrites
    exactly its own subpartitions, never duplicating and never
    touching other batches' files.  Requires the base build to use the
    same two-level layout (:func:`ivf_persisted_topk` ``batch_id``).
    """
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        overwrite_partitions,
        write_table,
    )

    crows = _quantizer_rows(
        centroids, None, True, None, centroid_id, centroid_vec,
        "ivf_persisted_append",
    )
    # the same assignment as the rebuild path in ivf_persisted_topk
    assigned = _assigned_cells(
        new_corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(corpus_vec).alias("_nvec"),
        ),
        crows,
        ["neighbor_id", "_nvec"],
        "_nvec",
    )
    if batch_id is not None:
        assigned = assigned.withColumn("batch_id", F.lit(int(batch_id)))
        overwrite_partitions(assigned, path, ["cell", "batch_id"])
    else:
        write_table(assigned, path, partition_by=["cell"], mode="append")


def ivf_persisted_delete(
    deleted_ids: DataFrame,
    path: str,
    spark=None,
    id_col: str = "vec_id",
    new_fingerprint: str | None = None,
) -> list[int]:
    """DELETE from the persisted IVF layout — the lifecycle op the
    append/compact pair implies (user-deletion / GDPR erasure is the
    standing production requirement): drop the given ids from the
    cell-partitioned index WITHOUT a rebuild.

    Mechanics: one pruned pass finds the cells that actually CONTAIN a
    deleted id (the id→cell lookup is an inner join against the
    index — cost |index ∩ Δ|, and at 100 TB the deleted ids' cells
    are the only directories touched); those cell partitions are
    rewritten without the deleted rows by
    :func:`sources.writer.erase_partitions`, which also removes every
    (sub)partition and cell the delete emptied (dynamic overwrite only
    replaces partitions present in the written data — an emptied
    partition would otherwise silently keep its old files: the
    empty-partition trap).  Untouched cells keep their files
    byte-identical, so concurrent serving retains partition pruning.

    By assignment determinism, ``serve(layout minus Δ)`` is
    BIT-EQUAL to a full rebuild over ``corpus \\ Δ`` — appending only
    removed candidates, top-k over the shrunk cell equals the rebuild
    (pinned by the consuming query's oracle).  Two-level
    stream-maintained layouts keep their ``batch_id`` subpartitions
    (rows carry the column through the rewrite).

    ``new_fingerprint`` (optional) restamps the at-rest quantizer
    artifact so the mutated layout serves under a fingerprint that
    describes the post-delete corpus — the same stale-guard semantics
    :func:`bq_persist_delete` and the graph refresh already carry
    (ADVICE r13: without it, the IVF rung silently diverged from its
    siblings and kept serving under the pre-delete fingerprint).

    Returns the list of touched cell ids (the compact() convention)."""
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        erase_partitions,
    )

    ss = spark or deleted_ids.sparkSession
    dele = deleted_ids.select(
        F.col(id_col).alias("neighbor_id")
    ).distinct()
    index = ss.read.parquet(path)
    touched = sorted(
        int(r["cell"])
        for r in index.join(F.broadcast(dele), "neighbor_id")
        .select("cell")
        .distinct()
        .collect()
    )
    if not touched:
        _ivf_meta_restamp(path, new_fingerprint)
        return []
    erase_partitions(
        index,
        path,
        ["cell", "batch_id"] if "batch_id" in index.columns else ["cell"],
        touched,
        F.broadcast(dele),
        "neighbor_id",
    )
    _ivf_meta_restamp(path, new_fingerprint)
    return touched


def _ivf_meta_restamp(path: str, new_fingerprint: str | None) -> None:
    """Re-save the at-rest quantizer under ``new_fingerprint`` (the
    centroid VALUES are unchanged — a delete never retrains), mirroring
    :func:`_bq_meta_restamp` so every lifecycle rung moves its
    stale-guard in lockstep with its layout."""
    if new_fingerprint is None:
        return
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        load_centroids,
        save_centroids,
    )

    crows = load_centroids(path)
    if crows is not None:
        save_centroids(path, crows, fingerprint=new_fingerprint)


def ivf_filtered_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    path: str,
    predicate: Column | str,
    k: int = 10,
    n_probe: int = 2,
    attrs: list[str] | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    rebuild: bool = True,
    fingerprint: str | None = None,
) -> DataFrame:
    """Metadata-FILTERED vector search — the production feature every
    serving stack grows next (Milvus/FAISS "filtered search", pgvector
    WHERE + ORDER BY embedding): top-k among ONLY the corpus vectors
    satisfying a metadata predicate, e.g. ``lang = 'en'`` or
    ``label < 4``.

    This is PRE-filtering: the predicate applies to the candidate set
    BEFORE ranking, so the result always holds k qualifying neighbors
    (post-filtering a plain top-k returns < k — or zero — whenever the
    filter is selective; the classic correctness trap this operator
    exists to avoid).  To make that cheap the index layout carries the
    ``attrs`` metadata columns ALONGSIDE (id, vec, cell): the serve
    scan then stacks BOTH prunings — the probed cells as directory-
    level partition pruning AND the predicate as a parquet
    row-group/page filter (PushedFilters; asserted in tests) — so cost
    is ``selectivity · n_probe/|cells|`` of the corpus, and no
    join-back to a side table exists in the plan.

    Everything else (quantizer at rest, bit-exact assignment, ranked
    multi-probe, cosine fold, tie-breaks) is :func:`ivf_persisted_topk`
    verbatim, so the oracle is that query's with one WHERE added.
    Output: ``(query_id, cell, neighbor_id)``."""
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        save_centroids,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    crows = _quantizer_rows(
        centroids, path, rebuild, fingerprint, centroid_id, centroid_vec,
        "ivf_filtered_topk",
    )
    attrs = list(attrs or [])

    if rebuild:
        assigned = _assigned_cells(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                *attrs,
                F.col(corpus_vec).alias("_nvec"),
            ),
            crows,
            ["neighbor_id", *attrs, "_nvec"],
            "_nvec",
        )
        write_table(assigned, path, partition_by=["cell"])
        save_centroids(path, crows, fingerprint=fingerprint)

    q_assigned, index = _probed_scan(
        queries,
        crows,
        path,
        query_vec,
        n_probe,
        [F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec")],
    )
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    # the metadata predicate rides the SAME scan: partition pruning
    # above, parquet row-group pushdown here — no side-table join
    index = index.filter(pred)
    pairs = index.join(F.broadcast(q_assigned), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sims = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        cosine_similarity(F.col("_qvec"), F.col("_nvec")).alias("_sim"),
    )
    return top_k_per(
        sims, ["query_id"], [F.desc("_sim"), F.asc("neighbor_id")], k, "_rn"
    ).select("query_id", F.col("cell").cast("long").alias("cell"), "neighbor_id")


def ivf_diverse_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    path: str,
    k: int = 10,
    per_cell: int = 3,
    n_probe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    rebuild: bool = True,
    fingerprint: str | None = None,
) -> DataFrame:
    """DIVERSIFIED top-k — result diversification by quota (the
    Elasticsearch ``diversified_sampler`` / search-facet-quota shape):
    at most ``per_cell`` answers per coarse cell before the global
    top-``k``, so one dense region cannot monopolize the result list —
    the cheap, deterministic alternative to greedy MMR (whose
    iterative argmax is sequential in k and not oracle-replayable).

    Same serving skeleton as :func:`ivf_persisted_topk` (at-rest
    layout, quantizer artifact, bit-exact ranked multi-probe, pruned
    scan, broadcast query side); the ranking becomes TWO stacked
    windows — rank within (query, cell) by the bit-exact cosine fold,
    keep ≤ per_cell, then the global per-query top-k over the
    quota-filtered survivors.  Both windows replay as QUALIFY levels
    in SQL.  The cell quota only diversifies across the PROBED cells,
    so ``n_probe`` doubles as the diversity breadth dial.

    Output: ``(query_id, cell, neighbor_id, rank)``."""
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        save_centroids,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    crows = _quantizer_rows(
        centroids, path, rebuild, fingerprint, centroid_id, centroid_vec,
        "ivf_diverse_topk",
    )
    if rebuild:
        assigned = _assigned_cells(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.col(corpus_vec).alias("_nvec"),
            ),
            crows,
            ["neighbor_id", "_nvec"],
            "_nvec",
        )
        write_table(assigned, path, partition_by=["cell"])
        save_centroids(path, crows, fingerprint=fingerprint)

    q_assigned, index = _probed_scan(
        queries,
        crows,
        path,
        query_vec,
        n_probe,
        [F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec")],
    )
    pairs = index.join(F.broadcast(q_assigned), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sims = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        cosine_similarity(F.col("_qvec"), F.col("_nvec")).alias("_sim"),
    )
    order = [F.desc("_sim"), F.asc("neighbor_id")]
    # cut 1: the diversity quota — rank within each (query, cell)
    quota = top_k_per(sims, ["query_id", "cell"], order, per_cell, "_cr")
    # cut 2: the global top-k over the quota survivors (at most
    # per_cell * n_probe rows per query)
    return top_k_per(quota, ["query_id"], order, k).select(
        "query_id",
        F.col("cell").cast("long").alias("cell"),
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
    )


def ivf_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    path: str,
    threshold: float,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    rebuild: bool = True,
    fingerprint: str | None = None,
) -> DataFrame:
    """RANGE search (FAISS ``range_search``): ALL neighbors within the
    probed cells whose cosine similarity is ≥ ``threshold`` — the
    "everything this similar" contract (dedup candidate generation,
    radius joins, compliance screens) that top-k cannot express: k is
    either too small (misses qualifying neighbors) or too large (pads
    with junk), and the qualifying count varies per query.

    Same serving skeleton as :func:`ivf_persisted_topk` — at-rest
    cell-partitioned layout, quantizer artifact, bit-exact ranked
    multi-probe, directory-pruned scan, broadcast query side — but the
    per-query WINDOW is replaced by a stateless FILTER on the bit-exact
    cosine fold: no rank, no shuffle for ranking, embarrassingly
    parallel, output size data-dependent.  The emitted ``sim`` is the
    sequential fold both engines compute identically, so every row AND
    value replays in SQL.  Scan contract: results are complete within
    the probed cells (global completeness needs n_probe = |cells|,
    same recall dial as top-k serving).

    Output: ``(query_id, cell, neighbor_id, sim)``."""
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        save_centroids,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    crows = _quantizer_rows(
        centroids, path, rebuild, fingerprint, centroid_id, centroid_vec,
        "ivf_range_search",
    )
    if rebuild:
        assigned = _assigned_cells(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.col(corpus_vec).alias("_nvec"),
            ),
            crows,
            ["neighbor_id", "_nvec"],
            "_nvec",
        )
        write_table(assigned, path, partition_by=["cell"])
        save_centroids(path, crows, fingerprint=fingerprint)

    q_assigned, index = _probed_scan(
        queries,
        crows,
        path,
        query_vec,
        n_probe,
        [F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec")],
    )
    pairs = index.join(F.broadcast(q_assigned), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return (
        pairs.select(
            "query_id",
            F.col("cell").cast("long").alias("cell"),
            "neighbor_id",
            cosine_similarity(F.col("_qvec"), F.col("_nvec")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def spherical_kmeans_train(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """The training loop of :func:`spherical_kmeans_fit`, returning the
    trained codebook as driver-side ``(centroid_id, vector)`` rows —
    the literal form every fixed-centroid serving path consumes
    (:func:`ivf_topk_fixed`, :func:`ivf_persisted_topk`).  Split out so
    a SESSION can train once and serve many times (VERDICT r9 item 3):
    the rows are small BY CONTRACT (k×d doubles) and fully
    deterministic, so caching them changes cost, never results.

    Semantics (init/assign/update) are documented on
    :func:`spherical_kmeans_fit`, which delegates here.
    """
    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0, got k={k} iters={iters}")
    base = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    seed = base.orderBy(id_col).limit(k).collect()
    if len(seed) < k:
        raise ValueError(f"corpus has {len(seed)} vectors, need k={k}")
    crows = [(cid, list(r["_v"])) for cid, r in enumerate(seed)]
    dim = len(crows[0][1])
    for _ in range(iters):
        means = (
            _assigned_cells(base, crows, ["_v"], "_v", out_col="_cell")
            .select("_cell", F.posexplode("_v").alias("_i0", "_x"))
            .groupBy("_cell", (F.col("_i0") + 1).alias("i"))
            .agg(
                (
                    F.sum(F.round(F.col("_x") * F.lit(1e9), 0).cast("long"))
                    .cast("double")
                    / F.lit(1e9)
                    / F.count(F.lit(1))
                ).alias("_m")
            )
            .collect()
        )
        got: dict[int, list[float]] = {}
        for r in means:
            got.setdefault(int(r["_cell"]), [0.0] * dim)[int(r["i"]) - 1] = r["_m"]
        # empty cell -> previous centroid survives
        crows = [(cid, got.get(cid, prev)) for cid, prev in crows]
    return crows


def spherical_kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Deterministic spherical k-means codebook training — the
    build-the-centroids half the IVF family assumes as given
    (:func:`ivf_persisted_topk` serves ANY codebook; SCALE_PROBE's
    ``ivf_recall`` section shows how much recall per probed cell a
    better codebook buys).  Fully oracle-replayable: no RNG anywhere.

    * **init**: the ``k`` smallest-``id_col`` vectors, centroid ids
      0..k−1 in that order (deterministic seeding; k-means++ would add
      RNG for quality this corpus-size doesn't need).
    * **assign**: argmax COSINE with min-centroid-id tie-break via the
      shared bit-exact quantizer (:func:`_fixed_cell_expr`) — the SAME
      expression the IVF serving paths use, so trained codebooks plug
      straight in.  Spherical (cosine) beats L2 for embedding corpora
      and is scale-invariant, so centroids never need renormalizing.
    * **update**: per-(cell, dim) MEAN with the scaled-long recipe
      (``round(x·1e9)`` summed as exact longs, rescaled once —
      partition-order-proof, the embedding_covariance discipline), so
      both engines compute bit-identical new centroids; a cell that
      loses every member keeps its previous centroid.

    Each round touches the corpus once for assignment and reduces to a
    ``k×d`` cell table (partial agg before the exchange — the shuffle
    is constant-size regardless of corpus size); the new centroids are
    collected to the driver (k×d doubles, small BY CONTRACT — the same
    collect-the-small-side rule as the IVF quantizer) and folded into
    the next round's assignment as literals.  After ``iters`` update
    rounds a final assignment pass counts members.

    Output: ``(centroid_id, i, coord, n_members)`` — the codebook as a
    flat (cell, 1-based dim, coordinate) relation joined with the
    final member census.
    """
    # ``codebook`` short-circuits training with already-trained rows
    # (the session-cache path) — identical by determinism.
    crows = codebook or spherical_kmeans_train(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    spark = corpus.sparkSession
    base = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )

    counts = (
        _assigned_cells(base, crows, ["_v"], "_v", out_col="_cell")
        .groupBy(F.col("_cell").alias("centroid_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    coords = spark.createDataFrame(
        [
            (cid, i + 1, float(x))
            for cid, vec in crows
            for i, x in enumerate(vec)
        ],
        "centroid_id int, i int, coord double",
    )
    return coords.join(F.broadcast(counts), "centroid_id", "left").select(
        F.col("centroid_id").cast("long").alias("centroid_id"),
        F.col("i").cast("long").alias("i"),
        "coord",
        F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias("n_members"),
    )


def _pq_validate(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    corpus_vec: str,
    query_vec: str,
) -> tuple[int, int]:
    """Shared PQ input validation: contiguous subspace ids, one
    codeword dim, and a fail-fast sampled-row dimension guard —
    misdimensioned vectors would otherwise SILENTLY encode over
    truncated slices (``F.slice`` past the array end yields
    short/empty arrays; ADVICE r9).  One tiny limit(1) job per side;
    empty inputs skip the check.  This probe only fails FAST (first
    row); the complete per-row guard is the in-plan ``raise_error``
    assertion :func:`_pq_encode_cols` compiles into the encode
    projection (ADVICE r10), which checks EVERY row at scan time.
    Returns ``(n_sub, sub_dim)``."""
    if not codebooks:
        raise ValueError("codebooks must be non-empty")
    m_ids = sorted({m for m, _, _ in codebooks})
    n_sub = len(m_ids)
    if m_ids != list(range(n_sub)):
        raise ValueError(f"subspace ids must be 0..M-1, got {m_ids}")
    sub_dim = len(codebooks[0][2])
    if any(len(cw) != sub_dim for _, _, cw in codebooks):
        raise ValueError("all codewords must share one subspace dim")
    total_dim = n_sub * sub_dim
    for df, col, side in ((corpus, corpus_vec, "corpus"), (queries, query_vec, "queries")):
        probe = df.select(F.size(F.col(col)).alias("_n")).limit(1).collect()
        if probe and probe[0]["_n"] != total_dim:
            raise ValueError(
                f"{side} vector length {probe[0]['_n']} != "
                f"n_sub*sub_dim = {n_sub}*{sub_dim} = {total_dim}"
            )
    return n_sub, sub_dim


def _pq_encode_cols_arrow(
    df: DataFrame,
    guarded_vec: Column,
    by_m: dict[int, list[tuple[int, list[float]]]],
    n_sub: int,
    sub_dim: int,
    keep: list[str],
    cell_crows=None,
    keep_slices: bool = False,
) -> DataFrame:
    """The ``mapInArrow`` execution of the PQ encode stage — see
    :func:`_pq_encode_cols` for the bit-equality contract.  Receives
    the GUARDED double vector column (the in-plan ``raise_error``
    length assertion evaluates in the projection feeding the kernel,
    so misdimensioned/NULL vectors still fail as
    ``SparkRuntimeException`` before any batch is formed)."""
    import numpy as np

    total_dim = n_sub * sub_dim
    src = df.select(*[F.col(c) for c in keep], guarded_vec.alias("_venc"))

    subs = []
    for m in range(n_sub):
        entries = sorted(by_m[m])
        subs.append(
            (
                np.array([c for c, _ in entries], dtype=np.int32),
                np.array(
                    [[float(x) for x in cw] for _, cw in entries],
                    dtype=np.float64,
                ),
                np.array(
                    [
                        literal_l2_norm([float(x) for x in cw])
                        for _, cw in entries
                    ],
                    dtype=np.float64,
                ),
            )
        )
    cells = None
    if cell_crows is not None:
        cells = (
            np.array([int(r[0]) for r in cell_crows], dtype=np.int64),
            np.array(
                [[float(x) for x in r[1]] for r in cell_crows],
                dtype=np.float64,
            ),
            np.array(
                [literal_l2_norm([float(x) for x in r[1]]) for r in cell_crows],
                dtype=np.float64,
            ),
        )

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructType,
    )

    out_schema = StructType([src.schema[c] for c in keep])
    if cell_crows is not None:
        out_schema = out_schema.add("cell", LongType())
    if keep_slices:
        for m in range(n_sub):
            out_schema = out_schema.add(f"_sl{m}", ArrayType(DoubleType()))
    # nullable=False matches the Catalyst projection's schema exactly
    # (F.array of non-null casts is non-nullable) — keeps at-rest
    # parquet schemas and union nullability identical across paths.
    out_schema = out_schema.add("_codes", ArrayType(IntegerType()), False)

    nk = len(keep)
    b_state = df.sparkSession.sparkContext.broadcast((subs, cells))

    def _argmax_codes(slc: "np.ndarray", ids, mat, ncw):
        # dots/norm via the SAME sequential j-order accumulation as the
        # Catalyst folds (seeded 0.0; numpy element-wise double ops are
        # the identical IEEE binary64 ops).
        n_rows, d = slc.shape
        acc = np.zeros(n_rows, dtype=np.float64)
        dots = np.zeros((n_rows, mat.shape[0]), dtype=np.float64)
        for j in range(d):
            col = slc[:, j]
            acc = acc + col * col
            dots = dots + col[:, None] * mat[None, :, j]
        nrow = np.sqrt(acc)
        denom = nrow[:, None] * ncw[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            key = dots / denom
        # NULL sims (zero denominator) rank LOWEST; NaN sims rank
        # HIGHEST (Spark's NaN ordering) — both resolve ties to the
        # lowest code because ids are sorted ascending and argmax
        # returns the first maximum.
        key[np.isnan(key)] = np.inf
        key[denom == 0.0] = -np.inf
        return ids[np.argmax(key, axis=1)]

    def kernel(batches):
        import pyarrow as pa

        bsubs, bcells = b_state.value
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            vcol = batch.column(nk)
            flat = vcol.flatten()
            vals = flat.to_numpy(zero_copy_only=False)
            if vals.shape[0] != n_rows * total_dim:
                raise ValueError(
                    "PQ encode kernel: ragged vector batch past the "
                    "in-plan guard"
                )
            mat_rows = vals.reshape(n_rows, total_dim)
            out_cols = list(batch.columns[:nk])
            if bcells is not None:
                cids, cmat, cnorm = bcells
                out_cols.append(
                    pa.array(
                        _argmax_codes(mat_rows, cids, cmat, cnorm),
                        type=pa.int64(),
                    )
                )
            if keep_slices:
                # Re-slice the ORIGINAL Arrow values (gather), so
                # element-level NULLs survive verbatim in the emitted
                # slices exactly as F.slice would carry them.
                row_base = np.arange(n_rows, dtype=np.int64) * total_dim
                for m in range(n_sub):
                    idx = (
                        row_base[:, None]
                        + np.arange(
                            m * sub_dim, (m + 1) * sub_dim, dtype=np.int64
                        )[None, :]
                    ).ravel()
                    sl_vals = flat.take(pa.array(idx))
                    offsets = pa.array(
                        np.arange(
                            0, (n_rows + 1) * sub_dim, sub_dim, dtype=np.int32
                        )
                    )
                    out_cols.append(
                        pa.ListArray.from_arrays(offsets, sl_vals)
                    )
            codes_np = np.empty((n_rows, n_sub), dtype=np.int32)
            for m in range(n_sub):
                ids, mmat, mncw = bsubs[m]
                codes_np[:, m] = _argmax_codes(
                    mat_rows[:, m * sub_dim : (m + 1) * sub_dim],
                    ids,
                    mmat,
                    mncw,
                )
            codes_offsets = pa.array(
                np.arange(0, (n_rows + 1) * n_sub, n_sub, dtype=np.int32)
            )
            out_cols.append(
                pa.ListArray.from_arrays(
                    codes_offsets, pa.array(codes_np.ravel(), type=pa.int32())
                )
            )
            yield pa.RecordBatch.from_arrays(
                out_cols, names=[f.name for f in out_schema.fields]
            )

    return src.mapInArrow(kernel, out_schema)


def _pq_encode_cols(
    df: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    n_sub: int,
    sub_dim: int,
    vec_col: str,
    keep: list[str],
    cell_crows=None,
    keep_slices: bool = False,
) -> DataFrame:
    """The PQ ENCODE stage as a DataFrame transform: ``keep`` columns
    + ``_codes`` (an ``n_sub``-long array, the bit-exact argmax-cosine
    code of each subspace slice, tie → lowest code) — plus ``cell``
    (the coarse assignment over ``cell_crows``, for IVFADC index
    builds) and the ``_sl{m}`` slice columns (``keep_slices``, for
    training's mean updates).

    The whole thing is ONE corpus scan, structured as a chain of
    projections so the expensive shared subtrees are computed once per
    row instead of once per codeword: slices first, then each slice's
    ``l2_norm`` (k codewords otherwise recompute the identical
    row-side norm fold — CollapseProject leaves multi-referenced
    non-cheap aliases in their own projection, measured 4.5× on this
    scan), then the per-subspace ``struct(sim, -code)`` greatest-folds
    over the hoisted columns (cosine_similarity_hoisted — bit-exact to
    the plain fold), and the code array LAST in its own projection
    (a generator in the same select strips the fold's inner struct
    aliases — the analyzer quirk pq_train_codebooks documents).

    Every row's vector length is asserted IN-PLAN (``raise_error`` on
    ``size(vec) != n_sub·sub_dim``) before slicing — _pq_validate's
    limit(1) probe fails fast on the first row, but a misdimensioned
    vector further in would otherwise SILENTLY encode over truncated
    ``F.slice`` outputs (ADVICE r10); the guard is one O(1) ``size``
    comparison per row, no extra job.

    Two bit-identical execution strategies (guide §4.2): the default
    is an ``mapInArrow`` kernel that streams the guarded double
    vectors through numpy with the SAME IEEE op sequence as the
    Catalyst folds (sequential j-order accumulation for every dot and
    norm, driver-side ``literal_l2_norm`` codeword norms — the exact
    values the literal tree would constant-fold), the same argmax
    semantics (NULL sims rank lowest, ties → lowest code — a
    degenerate slice, zero-norm or NULL/NaN-poisoned, yields
    all-equal sims and therefore the LOWEST code in both engines),
    and the in-plan guard untouched upstream of the kernel.  The
    codebook state it broadcasts is M·K·sub_dim doubles — small BY
    CONTRACT at any corpus scale, so unlike the corpus-state twins
    this path needs no size gate; the corpus itself streams through in batches.
    ``SPARK_GRAFT_TWINS=0`` restores the interpreted
    literal-fold projection (kept verbatim below as the fallback and
    the semantics reference)."""
    by_m: dict[int, list[tuple[int, list[float]]]] = {}
    for m, code, cw in codebooks:
        by_m.setdefault(m, []).append((code, cw))

    total_dim = n_sub * sub_dim
    raw = F.col(vec_col).cast("array<double>")
    v = F.when(F.size(raw) == total_dim, raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"PQ encode: vector length != n_sub*sub_dim = {total_dim}, got "
                ),
                F.size(raw).cast("string"),
            )
        ).cast("array<double>")
    )
    if twins.enabled():
        return _pq_encode_cols_arrow(
            df, v, by_m, n_sub, sub_dim, keep, cell_crows, keep_slices
        )
    s1_cols = [F.col(c) for c in keep] + [v.alias("_venc")] + [
        F.slice(v, m * sub_dim + 1, sub_dim).alias(f"_sl{m}")
        for m in range(n_sub)
    ]
    s1 = df.select(*s1_cols)
    carry = [*keep, "_venc", *[f"_sl{m}" for m in range(n_sub)]]
    s2 = s1.select(
        *carry,
        *[l2_norm(F.col(f"_sl{m}")).alias(f"_n{m}") for m in range(n_sub)],
        *(
            [l2_norm(F.col("_venc")).alias("_nvenc")]
            if cell_crows is not None
            else []
        ),
    )

    def code_expr(m: int) -> Column:
        arr = _codeword_struct_array(
            sorted(by_m[m]), f"_sl{m}", f"_n{m}"
        )
        return (-F.array_max(arr)["_nc"]).cast("int")

    out_cols = [*keep]
    if cell_crows is not None:
        out_cols.append(
            _fixed_cell_expr(cell_crows, "_venc", "_nvenc").alias("cell")
        )
    if keep_slices:
        out_cols.extend(F.col(f"_sl{m}") for m in range(n_sub))
    out_cols.append(
        F.array(*[code_expr(m) for m in range(n_sub)]).alias("_codes")
    )
    return s2.select(*out_cols)


def _pq_lut(
    queries: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    sub_dim: int,
    query_id: str,
    query_vec: str,
) -> DataFrame:
    """The ADC lookup table: one row per (query, subspace, code) whose
    ``_d`` is the SCALED-LONG dot of the query slice with that codeword
    (``Σ round(qᵢ·cᵢ·1e9)`` summed as exact longs) — pure integer
    arithmetic after the per-term product, so downstream ADC sums have
    no float accumulation order anywhere.  |queries|·M·K rows: small by
    contract, built for broadcast."""
    spark = queries.sparkSession
    cb_df = spark.createDataFrame(
        [(m, c, [float(x) for x in cw]) for m, c, cw in codebooks],
        "m int, code int, codeword array<double>",
    )
    qv = F.col(query_vec).cast("array<double>")
    return (
        queries.select(F.col(query_id).alias("query_id"), qv.alias("_qv"))
        .crossJoin(F.broadcast(cb_df))
        .select(
            "query_id",
            "m",
            "code",
            F.aggregate(
                F.transform(
                    F.zip_with(
                        F.slice(
                            F.col("_qv"),
                            F.col("m") * sub_dim + 1,
                            F.lit(sub_dim),
                        ),
                        F.col("codeword"),
                        lambda x, y: x * y,
                    ),
                    lambda p: F.round(p * 1e9, 0).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("_d"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[tuple[int, int, list[float]]],
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Product-quantization ANN with Asymmetric Distance Computation
    (Jégou et al., PAMI 2011) — the memory-resident-codes serving
    path: the corpus is stored as ``M`` small integers per vector
    (here one byte each), queries never touch raw corpus floats, and
    scoring is ``M`` lookup-table adds per candidate.

    Fully oracle-replayable via two established disciplines:

    * **encode** — each of the ``M`` subspace slices is assigned to
      its subspace codeword by the bit-exact argmax-cosine quantizer
      (the same ``struct(sim, -cid)``/``greatest`` fold the IVF
      family shares), tie → lowest code;
    * **score** — each LUT entry is the SCALED-LONG dot of the query
      slice with a codeword (``Σ round(qᵢ·cᵢ·1e9)`` summed as exact
      longs — the covariance/k-means recipe), so the ADC score
      ``Σ_m LUT[q, m, code_m]`` is pure integer arithmetic: no float
      accumulation order exists anywhere after the per-term product,
      and both engines agree to the last bit.

    ``codebooks`` is a driver-side list of ``(m, code, codeword)``
    rows (small BY CONTRACT: M·K entries — the collect-the-small-side
    rule).  Scale shape: the corpus is scanned once to encode (or the
    codes are the at-rest layout), the LUT (|queries|·M·K rows) is
    broadcast, the per-(query, vector) reduce is a partial-agg
    groupBy, and the final rank is one top-k cut whose partial
    WindowGroupLimit lets only |partitions|·k·|queries| rows reach the
    global top-k.  ADC's win at 100 TB is the candidate-side payload:
    M bytes per vector against 4·d for raw floats (32× here), which is
    what lets a billion-vector shard stay in executor memory.

    Output: ``(query_id, neighbor_id, rank, adc_score_scaled)`` —
    the score stays in its exact scaled-long form (÷1e9 for the
    approximate dot product).
    """
    n_sub, sub_dim = _pq_validate(corpus, queries, codebooks, corpus_vec, query_vec)
    codes = _pq_encode_cols(
        corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec)),
        codebooks,
        n_sub,
        sub_dim,
        corpus_vec,
        keep=["neighbor_id"],
    ).select("neighbor_id", F.posexplode("_codes").alias("m", "code"))
    lut = _pq_lut(queries, codebooks, sub_dim, query_id, query_vec)

    pairs = codes.join(F.broadcast(lut), ["m", "code"])
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scores = pairs.groupBy("query_id", "neighbor_id").agg(
        F.sum("_d").alias("adc_score_scaled")
    )
    return top_k_per(
        scores, ["query_id"], [F.desc("adc_score_scaled"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "rank", "adc_score_scaled")


def pq_train_codebooks(
    corpus: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int, list[float]]]:
    """Train real per-subspace PQ codebooks (the Jégou et al.
    construction: independent k-means in each of the ``M`` subspaces)
    with the engine's deterministic spherical-k-means recipe — the
    upgrade from :func:`pq_adc_topk`'s fixed first-k-slice codewords,
    mirroring exactly how ``ann_ivf_trained_topk`` upgraded the fixed
    coarse quantizer (VERDICT r9 item 5).  Fully oracle-replayable: no
    RNG anywhere.

    * **init**: subspace ``m``'s codewords are the ``m``-th slices of
      the ``k`` smallest-``id_col`` vectors, codes 0..k−1 in that
      order (the shared deterministic seed rule).
    * **assign**: per (vector, subspace), argmax cosine of the slice
      against that subspace's codewords, tie → lowest code — the SAME
      bit-exact fold serving uses (:func:`_pq_encode_cols`), so trained
      codebooks plug straight into :func:`pq_adc_topk` /
      :func:`ivfadc_topk`.
    * **update**: per (subspace, code, dim) scaled-long mean; a code
      that loses every member keeps its previous codeword.

    Scale shape: ALL subspaces train jointly — each round is ONE
    corpus scan (the M assignment folds are columns of the same
    projection) reducing to an ``M·K·sub_dim`` cell table before any
    exchange; the update is an ``M·K·sub_dim``-row driver collect
    (small BY CONTRACT, the k-means rule).  Per-subspace sequential
    loops would pay M scans per round for identical output.

    Returns the ``(m, code, codeword)`` list the serving operators
    take.
    """
    if n_sub < 1 or sub_dim < 1 or k < 1 or iters < 0:
        raise ValueError(
            f"bad shape: n_sub={n_sub} sub_dim={sub_dim} k={k} iters={iters}"
        )
    base = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    seed = base.orderBy(id_col).limit(k).collect()
    if len(seed) < k:
        raise ValueError(f"corpus has {len(seed)} vectors, need k={k}")
    books: list[tuple[int, int, list[float]]] = [
        (m, code, list(r["_v"][m * sub_dim : (m + 1) * sub_dim]))
        for code, r in enumerate(seed)
        for m in range(n_sub)
    ]

    for _ in range(iters):
        means = (
            # _pq_encode_cols hoists slices + norms and keeps the code
            # fold in its own projection (a generator in the same
            # select strips the fold's inner struct aliases —
            # FIELD_NOT_FOUND _nc); the slices ride along for the mean
            # update's coordinate explode.
            _pq_encode_cols(
                base, books, n_sub, sub_dim, "_v", keep=[], keep_slices=True
            )
            .select(
                F.posexplode(
                    F.array(
                        *[
                            F.struct(
                                F.element_at(
                                    F.col("_codes"), m + 1
                                ).alias("code"),
                                F.col(f"_sl{m}").alias("sl"),
                            )
                            for m in range(n_sub)
                        ]
                    )
                ).alias("m", "_s"),
            )
            .select(
                "m",
                F.col("_s.code").alias("code"),
                F.posexplode(F.col("_s.sl")).alias("_i0", "_x"),
            )
            .groupBy("m", "code", (F.col("_i0") + 1).alias("i"))
            .agg(
                (
                    F.sum(F.round(F.col("_x") * F.lit(1e9), 0).cast("long"))
                    .cast("double")
                    / F.lit(1e9)
                    / F.count(F.lit(1))
                ).alias("_mu")
            )
            .collect()
        )
        got: dict[tuple[int, int], list[float]] = {}
        for r in means:
            got.setdefault((int(r["m"]), int(r["code"])), [0.0] * sub_dim)[
                int(r["i"]) - 1
            ] = r["_mu"]
        books = [
            (m, code, got.get((m, code), prev)) for m, code, prev in books
        ]
    return books


def pq_codebook_fit(
    corpus: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[tuple[int, int, list[float]]] | None = None,
) -> DataFrame:
    """The trained-PQ codebook as a value-checkable relation:
    ``(m, code, i, coord, n_members)`` — every codeword coordinate
    plus a final per-(subspace, code) assignment census, the same
    emission shape :func:`spherical_kmeans_fit` uses for the coarse
    codebook.  ``codebooks`` short-circuits training with
    already-trained rows (the session-cache path) — identical by
    determinism."""
    books = codebooks or pq_train_codebooks(
        corpus, n_sub, sub_dim, k, iters, id_col, vec_col
    )
    spark = corpus.sparkSession
    base = corpus.select(F.col(vec_col).cast("array<double>").alias("_v"))
    counts = (
        _pq_encode_cols(base, books, n_sub, sub_dim, "_v", keep=[])
        .select(F.posexplode("_codes").alias("m", "code"))
        .groupBy("m", "code")
        .agg(F.count(F.lit(1)).alias("n_members"))
    )
    coords = spark.createDataFrame(
        [
            (m, code, i + 1, float(x))
            for m, code, cw in books
            for i, x in enumerate(cw)
        ],
        "m int, code int, i int, coord double",
    )
    return coords.join(F.broadcast(counts), ["m", "code"], "left").select(
        F.col("m").cast("long").alias("m"),
        F.col("code").cast("long").alias("code"),
        F.col("i").cast("long").alias("i"),
        "coord",
        F.coalesce(F.col("n_members"), F.lit(0)).cast("long").alias("n_members"),
    )


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    codebooks: list[tuple[int, int, list[float]]] | None,
    path: str,
    k: int = 10,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    rebuild: bool = True,
    exclude_self: bool = True,
    fingerprint: str | None = None,
    attrs: list[str] | None = None,
    predicate: Column | str | None = None,
) -> DataFrame:
    """IVFADC — the standard billion-scale ANN serving stack (Jégou et
    al., PAMI 2011), composed from the two halves this engine already
    pins separately: the IVF coarse quantizer's partition-pruned cell
    probe (:func:`ivf_persisted_topk`) and PQ's asymmetric-distance
    scoring over 1-byte codes (:func:`pq_adc_topk`).

    **Index build** (``rebuild=True``): ONE corpus scan assigns each
    vector to its nearest coarse cell (:func:`_fixed_cell_expr`, the
    shared bit-exact quantizer) AND encodes its ``M`` PQ subspace codes
    (:func:`_pq_encode_cols`, the same fold on hoisted slices); the result —
    (id, m, code) rows, i.e. ``M`` bytes of payload per vector, no raw
    floats — is laid down ``partitionBy(cell)``.  This at-rest shape is
    the whole point at 100 TB: the serving working set is 32× smaller
    than float32 AND directory-pruned per query.

    **Serve**: each query probes its ``n_probe`` nearest cells (ranked
    bit-exactly — :func:`_fixed_probe_cells_expr`), the DISTINCT probed
    cells become a static ``cell IN`` predicate on the index read
    (PartitionFilters — only probed directories are scanned), the
    query-side LUT (:func:`_pq_lut`, scaled-long exact) is broadcast,
    and the ADC score is a pure-integer partial-agg reduce followed by
    one top-k cut (partial WindowGroupLimit, then the global top-k).
    Per query batch the cost is ``n_probe/|cells|`` of an
    ``M``-bytes-per-vector table — candidate generation AND scoring
    both sublinear in corpus size.

    Every stage is oracle-replayable (trained coarse codebooks via the
    k-means CTE chain, encode/LUT/score via the PQ chain), so the
    composed query is value-checked end to end.  Output:
    ``(query_id, cell, neighbor_id, rank, adc_score_scaled)`` — cell =
    the NEIGHBOR's home cell, value-checking which probe answered.

    Both quantizers (coarse centroids AND PQ codebooks) are written at
    rest under ``<path>/_quantizer/`` at build, and ``centroids=None``
    / ``codebooks=None`` with ``rebuild=False`` serves from the stored
    artifacts — the index directory alone is the deployable unit
    (VERDICT r10 item 1); ``fingerprint`` guards staleness.

    ``attrs``/``predicate`` are filtered search at the QUANTIZED tier
    (the billion-scale variant of :func:`ivf_filtered_topk`): ``attrs``
    metadata columns ride the code index at build (a few bytes next to
    the M one-byte codes), and the serve scan stacks cell pruning,
    the parquet-pushed predicate, AND the 8-byte payload in one pass —
    pre-filter semantics, so every answer qualifies.
    """
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        load_pq_codebooks,
        save_centroids,
        save_pq_codebooks,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    if codebooks is None:
        if rebuild:
            raise ValueError("rebuild=True requires explicit PQ codebooks")
        codebooks = load_pq_codebooks(path, expected_fingerprint=fingerprint)
        if codebooks is None:
            raise ValueError(
                f"no (or stale) PQ codebook artifact under {path}/_quantizer"
            )
    n_sub, sub_dim = _pq_validate(
        corpus, queries, codebooks, corpus_vec, query_vec
    )
    crows = _quantizer_rows(
        centroids, path, rebuild, fingerprint, centroid_id, centroid_vec,
        "ivfadc_topk",
    )
    if rebuild:
        # The index row is (id, cell, codes ARRAY) — one row per
        # vector, codes unexploded.  Two reasons: it IS the 8-bytes-
        # per-vector at-rest shape (exploding at rest would 8× the row
        # count), and keeping the generator OUT of the encode plan
        # sidesteps an ExtractGenerator/CollapseProject interplay that
        # re-inlines the whole per-subspace fold tree ~5× (measured
        # 353 KB plans and a 100× slower build on the residual
        # variant).  Serving explodes from the parquet LEAF, where the
        # expression tree beneath the generator is trivial.
        index_rows = _pq_encode_cols(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                *(attrs or []),
                F.col(corpus_vec),
            ),
            codebooks,
            n_sub,
            sub_dim,
            corpus_vec,
            keep=["neighbor_id", *(attrs or [])],
            cell_crows=crows,
        ).select("neighbor_id", *(attrs or []), "cell", "_codes")
        write_table(index_rows, path, partition_by=["cell"])
        save_centroids(path, crows, fingerprint=fingerprint)
        save_pq_codebooks(path, codebooks, fingerprint=fingerprint)

    q_cells, index = _probed_scan(
        queries,
        crows,
        path,
        query_vec,
        n_probe,
        [F.col(query_id).alias("query_id")],
    )
    if predicate is not None:
        # the metadata predicate rides the SAME pruned scan (parquet
        # row-group pushdown), BEFORE the code explode
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        index = index.filter(pred)
    index = index.select(
        "neighbor_id", "cell", F.posexplode("_codes").alias("m", "code")
    )
    lut = _pq_lut(queries, codebooks, sub_dim, query_id, query_vec)

    pairs = index.join(F.broadcast(q_cells), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scores = (
        pairs.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "cell", "neighbor_id")
        .agg(F.sum("_d").alias("adc_score_scaled"))
    )
    return top_k_per(
        scores, ["query_id"], [F.desc("adc_score_scaled"), F.asc("neighbor_id")], k
    ).select(
        "query_id",
        F.col("cell").cast("long").alias("cell"),
        "neighbor_id",
        "rank",
        "adc_score_scaled",
    )


def ivfadc_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    codebooks: list[tuple[int, int, list[float]]] | None,
    path: str,
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    rebuild: bool = True,
    exclude_self: bool = True,
    fingerprint: str | None = None,
) -> DataFrame:
    """Two-stage IVFADC serving with an exact re-rank — FAISS's
    ``RefineFlat`` stage (VERDICT r10 item 2): PQ recall on this corpus
    is ~0.17 because 8 one-byte codes can't separate close neighbors,
    but ADC is a strong FILTER — stage 1 shortlists the top
    ``shortlist`` (R) candidates per query from the quantized index,
    stage 2 fetches ONLY those candidates' original float vectors and
    re-ranks them by exact cosine to the final top-``k``.  Recall
    becomes "is the true neighbor anywhere in the ADC top-R", which is
    far easier than "is it ADC rank ≤ k" (measured uplift on the
    SCALE_PROBE ``ivf_recall`` curve).

    Scale shape: stage 1 is :func:`ivfadc_topk` unchanged (probed
    directories only, 8-byte codes, integer ADC).  Stage 2's candidate
    set is |queries|·R rows — small BY CONTRACT — so it broadcasts
    into ONE scan of the raw corpus (the flat-vector fetch; at rest
    you'd co-partition the float table by the same cells to prune that
    scan too), and the exact cosine + per-query top-k is the
    brute-force tail over R candidates instead of the whole corpus.
    Total: quantized-index scan + one broadcast-filtered float fetch —
    never an all-pairs float pass.

    Both stages are oracle-replayable (the ADC chain integer-exact,
    the re-rank via the bit-exact sequential cosine fold), so the
    composed result is value-checked end to end.  Output:
    ``(query_id, neighbor_id, rank)`` — rank is the POST-refine rank.
    """
    stage1 = ivfadc_topk(
        corpus,
        queries,
        centroids,
        codebooks,
        path,
        k=shortlist,
        n_probe=n_probe,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        query_id=query_id,
        query_vec=query_vec,
        centroid_id=centroid_id,
        centroid_vec=centroid_vec,
        rebuild=rebuild,
        exclude_self=exclude_self,
        fingerprint=fingerprint,
    ).select("query_id", "neighbor_id")
    vecs = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("_nvec"),
    )
    qv = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("_qvec")
    )
    pairs = vecs.join(F.broadcast(stage1), "neighbor_id").join(
        F.broadcast(qv), "query_id"
    )
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("_qvec"), F.col("_nvec")).alias("_sim"),
    )
    return top_k_per(
        sims, ["query_id"], [F.desc("_sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


def ivfadc_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    path: str,
    k: int = 10,
    n_probe: int = 2,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    rebuild: bool = True,
    exclude_self: bool = True,
    fingerprint: str | None = None,
) -> DataFrame:
    """IVFADC on RESIDUALS — the full Jégou et al. (PAMI 2011, §III.C)
    construction: PQ encodes ``x − centroid(cell(x))`` instead of the
    raw vector, so each subspace codebook only has to cover the spread
    WITHIN a coarse cell rather than the whole space, and the ADC
    score decomposes exactly as

        ⟨q, x⟩ ≈ ⟨q, c_cell⟩ + Σ_m LUT[m, code_m]

    — the per-(query, cell) centroid term plus the per-(query, m,
    code) residual-codeword term, both scaled-long integer sums, so
    the composed score has no float accumulation order anywhere.
    This is the fidelity upgrade over :func:`ivfadc_topk` (which
    encodes raw vectors): residual magnitudes are a fraction of raw
    magnitudes, so the same 8 bytes/vector quantize a much smaller
    ball.  SCALE_PROBE's recall section records the measured uplift.

    **Residual codewords** (deterministic seed rule, oracle-pinned):
    subspace ``m``'s codewords are the ``m``-th residual slices of the
    ``n_codes`` smallest-``corpus_id`` vectors, codes 0..n−1 in id
    order — computed IN SPARK with the exact serving expressions
    (assignment fold + literal-centroid subtraction) and collected
    (n_codes·dim doubles — small BY CONTRACT), so seed residuals and
    corpus residuals can never drift.

    **Index build** (``rebuild=True``): ONE corpus scan computes the
    coarse cell (shared bit-exact quantizer, hoisted norm), subtracts
    that cell's literal centroid (``zip_with`` — one codegen'd
    elementwise pass), PQ-encodes the residual slices
    (:func:`_pq_encode_cols`' hoisted-norm folds), and lays down
    (id, m, code) ``partitionBy(cell)`` — 8 bytes/vector at rest,
    directory-pruned per query, same as :func:`ivfadc_topk`.

    **Serve**: probe set via :func:`_fixed_probe_cells_expr`, probed
    directories only (PartitionFilters), broadcast residual LUT
    (:func:`_pq_lut`), broadcast per-(query, cell) centroid dot —
    integer partial-agg reduce, one top-k cut.

    Centroid ids must be contiguous 0..k−1 (the ``element_at``
    residual lookup indexes the literal centroid array by cell id) —
    asserted, since a violation would silently subtract the WRONG
    centroid.  Output: ``(query_id, cell, neighbor_id, rank,
    adc_score_scaled)``.

    Both quantizers (coarse centroids AND the residual codebooks) are
    written at rest under ``<path>/_quantizer/`` at build;
    ``centroids=None`` with ``rebuild=False`` serves entirely from the
    stored artifacts (VERDICT r10 item 1) — in particular the residual
    codebook SEED SCAN is skipped on serve, so a fresh serving session
    never touches raw corpus floats.
    """
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        load_pq_codebooks,
        save_centroids,
        save_pq_codebooks,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    crows = _quantizer_rows(
        centroids, path, rebuild, fingerprint, centroid_id, centroid_vec,
        "ivfadc_residual_topk",
    )
    if [int(r[0]) for r in crows] != list(range(len(crows))):
        raise ValueError("ivfadc_residual_topk needs contiguous 0..k-1 centroid ids")
    dim = n_sub * sub_dim

    # Literal centroid matrix, indexed by cell id (one py4j call per
    # centroid row — the F.lit(list) rule).
    cent_arr = F.array(*[F.lit([float(x) for x in r[1]]) for r in crows])

    def with_residual(df: DataFrame, id_alias: str) -> DataFrame:
        """(id, cell, _r): assignment + literal-centroid subtraction —
        chained projections, still one scan when composed."""
        v = F.col(corpus_vec).cast("array<double>")
        s1 = df.select(
            F.col(corpus_id).alias(id_alias),
            v.alias("_venc"),
            l2_norm(v).alias("_nvenc"),
        )
        s2 = s1.select(
            id_alias,
            "_venc",
            _fixed_cell_expr(crows, "_venc", "_nvenc").alias("cell"),
        )
        return s2.select(
            id_alias,
            "cell",
            F.zip_with(
                F.col("_venc"),
                F.element_at(cent_arr, F.col("cell").cast("int") + 1),
                lambda x, y: x - y,
            ).alias("_r"),
        )

    # Seed residual codebooks: residuals of the n_codes smallest ids,
    # via the SAME expressions the corpus encode uses.  On a pure
    # serve (rebuild=False) the at-rest codebook artifact replaces the
    # seed scan entirely.
    books = (
        None
        if rebuild
        else load_pq_codebooks(path, expected_fingerprint=fingerprint)
    )
    if books is None:
        seed = (
            with_residual(corpus, "vec_id")
            .orderBy("vec_id")
            .limit(n_codes)
            .collect()
        )
        if len(seed) < n_codes:
            raise ValueError(f"corpus has < n_codes={n_codes} rows")
        if len(seed[0]["_r"]) != dim:
            # Misdimensioned vectors would otherwise SILENTLY encode over
            # truncated slices (the _pq_validate rule).
            raise ValueError(
                f"vector length {len(seed[0]['_r'])} != n_sub*sub_dim = {dim}"
            )
        books = [
            (m, j, [float(x) for x in r["_r"][m * sub_dim : (m + 1) * sub_dim]])
            for j, r in enumerate(seed)
            for m in range(n_sub)
        ]

    if rebuild:
        # Codes stay an ARRAY in the index row (see ivfadc_topk: the
        # at-rest shape, and the generator must stay out of the encode
        # plan — with the chained residual projections beneath it the
        # ExtractGenerator/CollapseProject interplay re-inlined the
        # fold tree into a 353 KB plan and a ~100 s build).
        index_rows = _pq_encode_cols(
            with_residual(corpus, "neighbor_id"),
            books,
            n_sub,
            sub_dim,
            "_r",
            keep=["neighbor_id", "cell"],
        ).select("neighbor_id", "cell", "_codes")
        write_table(index_rows, path, partition_by=["cell"])
        save_centroids(path, crows, fingerprint=fingerprint)
        save_pq_codebooks(path, books, fingerprint=fingerprint)

    q_cells, index = _probed_scan(
        queries,
        crows,
        path,
        query_vec,
        n_probe,
        [
            F.col(query_id).alias("query_id"),
            F.col(query_vec).cast("array<double>").alias("_qv"),
        ],
    )
    q_cells = q_cells.select(
        "query_id",
        "cell",
        # ⟨q, c_cell⟩ as a scaled-long integer sum — the same per-term
        # round(·1e9) discipline as the LUT, so the composed ADC score
        # stays pure-integer.
        F.aggregate(
            F.transform(
                F.zip_with(
                    F.col("_qv"),
                    F.element_at(cent_arr, F.col("cell").cast("int") + 1),
                    lambda x, y: x * y,
                ),
                lambda p: F.round(p * 1e9, 0).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_qcd"),
    )
    index = index.select(
        "neighbor_id", "cell", F.posexplode("_codes").alias("m", "code")
    )
    lut = _pq_lut(queries, books, sub_dim, query_id, query_vec)

    pairs = index.join(F.broadcast(q_cells.select("query_id", "cell")), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scores = (
        pairs.join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", "cell", "neighbor_id")
        .agg(F.sum("_d").alias("_rsum"))
        .join(F.broadcast(q_cells), ["query_id", "cell"])
        .select(
            "query_id",
            "cell",
            "neighbor_id",
            (F.col("_qcd") + F.col("_rsum")).alias("adc_score_scaled"),
        )
    )
    return top_k_per(
        scores, ["query_id"], [F.desc("adc_score_scaled"), F.asc("neighbor_id")], k
    ).select(
        "query_id",
        F.col("cell").cast("long").alias("cell"),
        "neighbor_id",
        "rank",
        "adc_score_scaled",
    )


def sq8_minmax(
    corpus: DataFrame, vec_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) of an embedding column — the training
    half of 8-bit scalar quantization.  ONE corpus scan with ``2·d``
    partial-aggregating min/max expressions collapsing to a single
    row (no exchange of data rows, constant-size result regardless of
    corpus size); min/max are order-insensitive so the values are
    exact on any engine.  The d-row result is collected (small BY
    CONTRACT — the collect-the-small-side rule)."""
    probe = corpus.select(F.size(F.col(vec_col)).alias("_n")).limit(1).collect()
    if not probe:
        raise ValueError("sq8_minmax needs a non-empty corpus")
    dim = int(probe[0]["_n"])
    v = F.col(vec_col).cast("array<double>")
    aggs = []
    for i in range(dim):
        aggs.append(F.min(F.element_at(v, i + 1)).alias(f"_mn{i}"))
        aggs.append(F.max(F.element_at(v, i + 1)).alias(f"_mx{i}"))
    row = corpus.agg(*aggs).collect()[0]
    return [(float(row[f"_mn{i}"]), float(row[f"_mx{i}"])) for i in range(dim)]


def sq8_quantize(
    corpus: DataFrame,
    minmax: list[tuple[float, float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """8-bit scalar quantization (the SQ8 of FAISS/Milvus — uniform
    per-dimension grids): ``code_i = round((x_i − min_i) / (max_i −
    min_i) · 255)`` ∈ [0, 255], plus the dequantized reconstruction
    ``min_i + code_i · (max_i − min_i)/255`` serving reads back.  The
    at-rest payload is ``d`` bytes/vector — 4× smaller than float32
    with NO codebook to train or ship, the standard first rung of the
    quantization ladder (below it PQ at ~32×, above it raw floats).

    Zero-shuffle: one codegen'd ``transform`` per row over literal
    min/step arrays (one py4j call each — the F.lit(list) rule).
    Every value is replayable: round-half-up on doubles in both
    engines, identical expression shape ``(x − mn) / (mx − mn) · 255``
    and ``mn + code · step`` with ``step = (mx − mn)/255`` — IEEE ops
    in the same order.  A constant dimension (max == min) codes to 0
    and dequantizes to exactly ``min_i``.

    Every row's vector length is asserted in-plan against the grid's
    dimension (the _pq_encode_cols rule, ADVICE r10): a short vector
    would otherwise silently quantize against the wrong grid entries.

    Output: ``(id, codes array<int>, dequant array<double>)``."""
    mins = [mn for mn, _ in minmax]
    # ranges and steps are SEPARATE literals (not step·255 ≈ range —
    # that round-trip is not IEEE-exact): the code divides by the
    # range, the dequant multiplies by range/255, and both engines
    # compute each from the same (min, max) in the same op order.
    ranges = [(mx - mn) for mn, mx in minmax]
    steps = [(r / 255.0) if r > 0 else 0.0 for r in ranges]
    lit_mins = F.lit(mins)
    lit_ranges = F.lit(ranges)
    lit_steps = F.lit(steps)
    raw = F.col(vec_col).cast("array<double>")
    v = F.when(F.size(raw) == len(minmax), raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"SQ8 quantize: vector length != grid dim {len(minmax)}, got "
                ),
                F.size(raw).cast("string"),
            )
        ).cast("array<double>")
    )
    codes = F.transform(
        v,
        lambda x, i: F.when(
            F.element_at(lit_ranges, i + 1) == 0.0, F.lit(0)
        )
        .otherwise(
            F.round(
                (x - F.element_at(lit_mins, i + 1))
                / F.element_at(lit_ranges, i + 1)
                * 255.0,
                0,
            ).cast("int")
        ),
    )
    out = corpus.select(F.col(id_col), codes.alias("codes"))
    dequant = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(lit_mins, i + 1)
        + c.cast("double") * F.element_at(lit_steps, i + 1),
    )
    return out.select(id_col, "codes", dequant.alias("dequant"))


def sq8_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    minmax: list[tuple[float, float]] | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force top-k over the SQ8-dequantized corpus — asymmetric
    distance for scalar quantization: queries stay full-precision,
    candidates are reconstructed from their 1-byte-per-dim codes, and
    the score is the scaled-long integer dot ``Σ round(q_i ·
    dequant_i · 1e9)`` (the PQ-LUT discipline), so ranking is exact
    integer arithmetic and any engine replays it bit-for-bit.

    Scale shape: fit is one constant-exchange min/max scan
    (:func:`sq8_minmax`, skippable by passing ``minmax``), then ONE
    corpus scan quantizes + scores against the BROADCAST query side —
    same single-scan/broadcast/one-top-k-cut shape as
    :func:`brute_force_topk`, but the candidate payload the scan
    carries at rest is codes (d bytes) instead of float32 (4d): the
    4× rung of the quantization ladder, no codebook, recall far above
    PQ because the grid is per-dimension.  Output: ``(query_id,
    neighbor_id, rank, adc_score_scaled)``."""
    mm = minmax if minmax is not None else sq8_minmax(corpus, corpus_vec)
    deq = sq8_quantize(corpus, mm, id_col=corpus_id, vec_col=corpus_vec).select(
        F.col(corpus_id).alias("neighbor_id"), "dequant"
    )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).cast("array<double>").alias("_qv"),
    )
    pairs = deq.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scores = pairs.select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.transform(
                F.zip_with(F.col("_qv"), F.col("dequant"), lambda x, y: x * y),
                lambda p: F.round(p * 1e9, 0).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("adc_score_scaled"),
    )
    return top_k_per(
        scores, ["query_id"], [F.desc("adc_score_scaled"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "rank", "adc_score_scaled")


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    path: str,
    k: int = 10,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    minmax: list[tuple[float, float]] | None = None,
    rebuild: bool = True,
    exclude_self: bool = True,
    fingerprint: str | None = None,
) -> DataFrame:
    """IVF-SQ — the middle rung of the quantized-serving matrix this
    engine now spans (IVF × {raw floats, SQ8 at 4×, PQ/residual-PQ at
    32×}, FAISS's ``IVF…,SQ8`` index): the coarse quantizer partition-
    prunes candidates exactly like :func:`ivf_persisted_topk`, but the
    at-rest payload per vector is ``d`` one-byte SQ8 codes instead of
    ``4d`` float32 — 4× less index I/O per probed cell at recall that
    is near-lossless (SCALE_PROBE: SQ8 full-scan recall 0.98 where PQ
    pays ~0.17 on this corpus).

    **Build** (``rebuild=True``): one corpus scan assigns the cell
    (shared bit-exact quantizer, hoisted norm) AND quantizes the
    vector (:func:`sq8_quantize`'s grid — one codegen'd transform over
    literal min/range arrays); (id, cell, codes) lands
    ``partitionBy(cell)``.  **Serve**: probe set via
    :func:`_fixed_probe_cells_expr`, probed directories only
    (PartitionFilters), dequantize on the fly from the literal
    (min, step) grids, and score with the scaled-long integer dot
    (``Σ round(q_i · dequant_i · 1e9)`` — the PQ-LUT discipline), so
    ranking is exact integer arithmetic and replayable.  The min/max
    fit is one constant-exchange scan over the FULL corpus
    (skippable via ``minmax``).  Output: ``(query_id, cell,
    neighbor_id, rank, adc_score_scaled)``.

    Both quantizers (coarse centroids AND the SQ8 min/max grid) are
    written at rest under ``<path>/_quantizer/`` at build;
    ``centroids=None`` with ``rebuild=False`` serves from the stored
    artifacts, and the grid artifact replaces the fit scan on serve
    (VERDICT r10 item 1)."""
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        load_sq8_minmax,
        save_centroids,
        save_sq8_minmax,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    crows = _quantizer_rows(
        centroids, path, rebuild, fingerprint, centroid_id, centroid_vec,
        "ivf_sq8_topk",
    )
    mm = minmax
    if mm is None and not rebuild:
        # Pure serve: the at-rest grid replaces the full-corpus fit scan.
        mm = load_sq8_minmax(path, expected_fingerprint=fingerprint)
    if mm is None:
        mm = sq8_minmax(corpus, corpus_vec)
    mins = [mn for mn, _ in mm]
    steps = [((mx - mn) / 255.0) if mx > mn else 0.0 for mn, mx in mm]

    if rebuild:
        assigned = _assigned_cells(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.col(corpus_vec).alias("_nvec"),
            ),
            crows,
            ["neighbor_id", "_nvec"],
            "_nvec",
        )
        # cell + codes in one folded projection (a join of separately
        # computed halves would shuffle both sides for nothing); the
        # code grid is sq8_quantize's expression verbatim.
        lit_mins = F.lit(mins)
        lit_ranges = F.lit([(mx - mn) for mn, mx in mm])
        v = F.col("_nvec").cast("array<double>")
        codes = F.transform(
            v,
            lambda x, i: F.when(
                F.element_at(lit_ranges, i + 1) == 0.0, F.lit(0)
            ).otherwise(
                F.round(
                    (x - F.element_at(lit_mins, i + 1))
                    / F.element_at(lit_ranges, i + 1)
                    * 255.0,
                    0,
                ).cast("int")
            ),
        )
        index_rows = assigned.select(
            "neighbor_id", "cell", codes.alias("codes")
        )
        write_table(index_rows, path, partition_by=["cell"])
        save_centroids(path, crows, fingerprint=fingerprint)
        save_sq8_minmax(path, mm, fingerprint=fingerprint)

    q_cells, index = _probed_scan(
        queries,
        crows,
        path,
        query_vec,
        n_probe,
        [
            F.col(query_id).alias("query_id"),
            F.col(query_vec).cast("array<double>").alias("_qv"),
        ],
    )
    lit_mins = F.lit(mins)
    lit_steps = F.lit(steps)
    dequant = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at(lit_mins, i + 1)
        + c.cast("double") * F.element_at(lit_steps, i + 1),
    )
    index = index.select("neighbor_id", "cell", dequant.alias("_dq"))
    pairs = index.join(F.broadcast(q_cells), "cell")
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scores = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        F.aggregate(
            F.transform(
                F.zip_with(F.col("_qv"), F.col("_dq"), lambda x, y: x * y),
                lambda p: F.round(p * 1e9, 0).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("adc_score_scaled"),
    )
    return top_k_per(
        scores, ["query_id"], [F.desc("adc_score_scaled"), F.asc("neighbor_id")], k
    ).select(
        "query_id",
        F.col("cell").cast("long").alias("cell"),
        "neighbor_id",
        "rank",
        "adc_score_scaled",
    )


def semantic_contamination_flags(
    corpus: DataFrame,
    evals: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "eval_id",
    eval_vec_col: str = "eval_vec",
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-space decontamination flags: one row per corpus
    vector with ``(n_eval_hits, matched_eval_id, is_contaminated)`` —
    contaminated iff its cosine to ANY benchmark/eval vector clears
    ``threshold``.  The shared batch core of the oracle-checked
    ``semantic_decontamination`` query AND the streaming ingest gate
    (streaming/jobs.semantic_decon_gate_stream): streaming = this
    operator per micro-batch, so the kept sets provably agree.

    Scale shape: the eval side is small BY NATURE (benchmark suites
    are thousands of rows) → broadcast CONDITIONED left-outer join
    (the cosine-threshold predicate evaluates inside the join; only
    hitting pairs materialize, clean vectors survive as the left
    side's null extension), corpus scanned exactly once, per-vector
    partial-agg reduce.  Norms are hoisted per ROW (computed once,
    not re-folded per pair — the SRP idiom); a zero-norm vector's
    cosine is NULL, never NaN, so it can't false-flag.
    """
    from spark_streaming_kafka2elasticsearch_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )

    ev = evals.select(
        F.col(eval_id_col).alias("_eid"),
        F.col(eval_vec_col).cast("array<double>").alias("_evec"),
    ).select("_eid", "_evec", l2_norm("_evec").alias("_en"))
    c = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cvec")
    ).select(id_col, "_cvec", l2_norm("_cvec").alias("_cn"))
    denom = F.col("_cn") * F.col("_en")
    sim = F.when(denom == 0, F.lit(None)).otherwise(
        dot_product(F.col("_cvec"), F.col("_evec")) / denom
    )
    pairs = c.join(F.broadcast(ev), on=sim >= threshold, how="left")
    return (
        pairs.groupBy(id_col)
        .agg(
            F.count("_eid").alias("n_eval_hits"),
            F.min("_eid").alias("matched_eval_id"),
        )
        .select(
            id_col,
            "n_eval_hits",
            "matched_eval_id",
            (F.col("n_eval_hits") > 0).alias("is_contaminated"),
        )
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 6,
    multi_probe: bool = True,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
) -> DataFrame:
    """Approximate top-k: rank only corpus vectors in the query's SRP
    bucket(s).  Each query touches |corpus|/2^planes candidates per
    probed bucket; the corpus bucketing is computed once (narrow map)
    and reusable — in a real deployment it is a partition column of the
    stored table, turning ANN into partition-pruned scans.

    ``multi_probe`` additionally probes every bucket at Hamming
    distance 1 from the query's (planes+1 buckets total) — the standard
    recall fix for boundary-straddling neighbors, trading candidate
    count for recall without touching the stored bucketing.
    """
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("_cvec"),
        srp_bucket(corpus_vec, dim, num_planes).alias("_bucket"),
    )
    q_base = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("_qvec"),
        srp_bucket(query_vec, dim, num_planes).alias("_qbucket"),
    )
    if multi_probe:
        probes = F.array(
            F.col("_qbucket"),
            *[
                F.col("_qbucket").bitwiseXOR(F.lit(1 << j))
                for j in range(num_planes)
            ],
        )
        q = q_base.select(
            "query_id", "_qvec", F.explode(probes).alias("_bucket")
        )
    else:
        q = q_base.withColumnRenamed("_qbucket", "_bucket")
    pairs = c.join(F.broadcast(q), "_bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("_qvec"), F.col("_cvec")).alias("sim"),
    )
    return top_k_per(
        sims, ["query_id"], [F.desc("sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", "rank", "sim")


def blocked_cosine_pairs_fast(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.35,
    max_block_size: int | None = None,
) -> DataFrame:
    """Intra-block cosine pairs >= threshold via the explode/codegen
    shape: (id_a, id_b, cos_sim), id_a < id_b.

    Why not LSH here: at thresholds this low (cos 0.35 ~ 70 deg) the
    per-hyperplane collision probability of a qualifying pair (~0.61)
    is barely above a random pair's (0.5), so no banding scheme can
    keep recall AND prune — bucketed prefilters only pay off for
    genuine near-dup thresholds (>= ~0.8, see srp_bucket).  The right
    scale lever is therefore plan shape: ``posexplode`` each vector to
    (block, j, id, x_j) and compute every pair dot product as ONE
    codegen'd hash join on (block, j) + partial-agg sum — no
    interpreted higher-order-function fold per pair (measured ~10x on
    the round-1 tail).  Norms are aggregated once per vector, not per
    pair.  The pair aggregation shuffles on (id_a, id_b) with map-side
    combine; blocking bounds the quadratic exactly like lang-blocking
    in text dedup.

    Float caveat: the partial-agg sum adds components in partition
    order, so the low bits of ``cos_sim`` are not cross-engine
    reproducible — callers that need an oracle-stable projection
    should emit the id pairs only (threshold margins in real data sit
    far above the 1e-15 accumulation noise).

    ``max_block_size`` is the same guardrail ``max_bucket_size`` is on
    the LSH paths: the exact intra-block scan is intrinsically
    O(|block|²), so ONE degenerate block (a dominant label) owns the
    whole job's cost and, at scale, a single task's memory.  A cheap
    block census (partial-agg count per block) drops oversized blocks
    BEFORE the pair join; at 100 TB those blocks must be routed
    through the bucketed path instead (srp_near_dup_pairs — its
    auto-sized variant holds α ≈ 1 where this exact scan cannot).
    Callers mirror the census rule in their oracle (HAVING count ≤
    cap), keeping the result fully value-checkable.
    """
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if max_block_size is not None:
        ok_blocks = (
            base.groupBy("_blk")
            .agg(F.count(F.lit(1)).alias("_m"))
            .filter(F.col("_m") <= max_block_size)
            .select("_blk")
        )
        base = base.join(F.broadcast(ok_blocks), "_blk")
    comps = base.select(
        "_id", "_blk", F.posexplode("_v").alias("_j", "_x")
    )
    norms = comps.groupBy("_id").agg(
        F.sqrt(F.sum(F.col("_x") * F.col("_x"))).alias("_nrm")
    )
    a = comps.select(
        F.col("_blk"), F.col("_j"),
        F.col("_id").alias("id_a"), F.col("_x").alias("_xa"),
    )
    b = comps.select(
        F.col("_blk"), F.col("_j"),
        F.col("_id").alias("id_b"), F.col("_x").alias("_xb"),
    )
    dots = (
        a.join(b, ["_blk", "_j"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("_xa") * F.col("_xb")).alias("_dot"))
    )
    n_a = norms.select(F.col("_id").alias("id_a"), F.col("_nrm").alias("_na"))
    n_b = norms.select(F.col("_id").alias("id_b"), F.col("_nrm").alias("_nb"))
    return (
        dots.join(n_a, "id_a")
        .join(n_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(F.col("_na") * F.col("_nb") == 0, F.lit(None))
            .otherwise(F.col("_dot") / (F.col("_na") * F.col("_nb")))
            .alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _srp_buckets_kernel_or_none(
    base: DataFrame, tables: int, planes_per_table: int, dim: int
):
    """``(_id, table_id, bucket)`` for every table via ONE
    ``mapInArrow`` kernel — the vectorized twin of
    :func:`srp_near_dup_pairs`'s posexplode ⋈ planes → two-groupBy
    dataflow (guide §4.2/§2.4: removes the |n|·dim·planes join-agg
    exchange and one groupBy entirely).  Bucket assignment needs only
    the SIGN of each plane dot, and that pipeline already computes the
    dot as a shuffled ``F.sum`` — order-nondeterministic by design,
    with the docstring pricing sign flips at the ulp boundary into the
    recall math — so a numpy summation is squarely inside the
    operator's own tolerance (and row-local, i.e. MORE deterministic
    than the shuffle it replaces).  Semantics matched exactly where
    they are observable:

    * element-NULLs contribute nothing (``F.sum`` skips NULL
      products) — the kernel zeroes exactly the null positions;
      genuine NaN values poison the dot to NaN → bit 0 in both
      (``NaN >= 0`` is false in numpy; Catalyst's ``>=`` on NaN dot
      is false too).  A vector whose (dot-range) elements are ALL
      NULL sums to a NULL dot on every plane, so the fallback's bucket
      is NULL and joins nothing: the kernel emits no rows for it.
    * a NULL vector emits no rows (posexplode of NULL); a
      length-deviant vector dots over the overlapping component range
      (the ``_j`` equi-join's semantics) — handled per row.
    * MSB-first bit packing per table, identical weights.

    Returns the DataFrame or None (``SPARK_GRAFT_TWINS=0``).
    """
    if not twins.enabled():
        return None
    import numpy as np

    if not _integral_id_cols(base, "_id"):
        return None
    total_planes = tables * planes_per_table
    signs = np.array(
        [_plane_signs(p, dim) for p in range(total_planes)],
        dtype=np.float64,
    )  # (P, dim)
    weights = np.array(
        [1 << (planes_per_table - 1 - (p % planes_per_table))
         for p in range(total_planes)],
        dtype=np.int64,
    )
    table_of = np.arange(total_planes, dtype=np.int64) // planes_per_table
    tbl_ids = np.arange(tables, dtype=np.int64)
    b_state = base.sparkSession.sparkContext.broadcast(
        (signs, weights, table_of)
    )
    src = base.select(
        F.col("_id"), F.col("_v").cast("array<double>").alias("_vsrp")
    )

    def kernel(batches):
        import pyarrow as pa

        ksigns, kweights, ktable_of = b_state.value
        kdim = ksigns.shape[1]
        P = ksigns.shape[0]
        n_tables = int(ktable_of[-1]) + 1 if P else 0
        signs_t = np.ascontiguousarray(ksigns.T)  # (dim, P)
        for batch in batches:
            n_rows = batch.num_rows
            if n_rows == 0:
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vcol = batch.column(1)
            offs = vcol.offsets.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            valid = (
                np.ones(n_rows, dtype=bool)
                if vcol.null_count == 0
                else ~vcol.is_null().to_numpy(zero_copy_only=False)
            )
            vals_arr = vcol.values
            flat = vals_arr.to_numpy(zero_copy_only=False).astype(np.float64)
            # the dot runs over the first min(len, kdim) elements; a
            # vector whose elements there are all NULL has a NULL dot on
            # every plane, so like the fallback it emits no rows
            dot_lens = np.minimum(lens, kdim)
            if vals_arr.null_count:
                nullpos = vals_arr.is_null().to_numpy(zero_copy_only=False)
                flat = np.where(nullpos, 0.0, flat)
                nulls = np.concatenate(([0], np.cumsum(nullpos)))
                all_null = (
                    nulls[offs[:-1] + dot_lens] - nulls[offs[:-1]]
                ) == dot_lens
                valid = valid & ~all_null
            good = valid & (lens == kdim)
            out_id = []
            out_tb = []
            out_bk = []
            if good.any():
                gi = np.flatnonzero(good)
                starts = offs[:-1][gi]
                idx = starts[:, None] + np.arange(kdim)[None, :]
                rows = flat[idx]  # (g, dim)
                dots = rows @ signs_t  # (g, P)
                with np.errstate(invalid="ignore"):
                    bits = dots >= 0.0  # NaN -> False, like Catalyst
                contrib = np.where(bits, kweights[None, :], 0)
                buckets = np.zeros((len(gi), n_tables), dtype=np.int64)
                for t in range(n_tables):
                    sel = ktable_of == t
                    buckets[:, t] = contrib[:, sel].sum(axis=1)
                out_id.append(np.repeat(ids[gi], n_tables))
                out_tb.append(np.tile(tbl_ids[:n_tables], len(gi)))
                out_bk.append(buckets.ravel())
            # empty arrays posexplode to NOTHING — the vector is absent
            odd = valid & (lens != kdim) & (lens > 0)
            if odd.any():
                for i in np.flatnonzero(odd):
                    row = flat[offs[i]: offs[i] + dot_lens[i]]
                    dots = row @ signs_t[: len(row)]
                    with np.errstate(invalid="ignore"):
                        bits = dots >= 0.0
                    contrib = np.where(bits, kweights, 0)
                    bks = np.array(
                        [
                            contrib[ktable_of == t].sum()
                            for t in range(n_tables)
                        ],
                        dtype=np.int64,
                    )
                    out_id.append(np.full(n_tables, ids[i], dtype=np.int64))
                    out_tb.append(tbl_ids[:n_tables])
                    out_bk.append(bks)
            if out_id:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(out_id), type=pa.int64()),
                        pa.array(np.concatenate(out_tb), type=pa.int64()),
                        pa.array(np.concatenate(out_bk), type=pa.int64()),
                    ],
                    names=["_id", "table_id", "bucket"],
                )

    return src.mapInArrow(
        kernel, schema="_id long, table_id long, bucket long"
    )


def srp_near_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    tables: int = 8,
    planes_per_table: int | None = None,
    max_bucket_size: int = 1024,
    target_occupancy: int = 64,
    materialize: bool = True,
) -> DataFrame:
    """Embedding near-dup pairs at genuine near-dup thresholds
    (cos ≥ ~0.8) via multi-table SRP bucketing + exact verify:
    (id_a, id_b, cos_sim), id_a < id_b.

    This is the bucketed scale path that blocked_cosine_pairs_fast's
    docstring points away from at low thresholds: for cos ≥ 0.9
    (θ ≤ 26°) a plane agrees on a qualifying pair w.p. ~0.86, so one
    8-plane table catches it w.p. ~0.29 and 8 independent tables reach
    ~94 % recall (≥ 99.9 % for true duplicates at cos ≥ 0.98) while a
    random pair collides anywhere w.p. only ~3 % — the candidate set is
    linear-ish, never all-pairs.  Table t uses planes
    [t·p, (t+1)·p): deterministic literal hyperplanes, so bucketing is
    reproducible and, at rest, (table 0's) bucket id can be a storage
    partition key.  The same two-pass census gate as the MinHash path
    drops degenerate buckets (e.g. a zero-vector pile) before member
    lists materialize.  Candidates are verified with the exact
    hoisted-norm cosine, so precision is 1 by construction.

    **Sizing rule for scale** (measured in SCALE_PROBE.json): bucket
    count per table is 2^planes_per_table, so with FIXED planes the
    expected occupancy grows with n and intra-bucket candidate pairs
    grow ~n²/2^p — the probe's mild super-linearity (α≈1.1 from 2k→20k
    vectors at p=8) is exactly this.  Hold occupancy constant by
    growing the table width with the corpus:
    ``planes_per_table ≈ log2(n / target_occupancy)`` (e.g. n=10⁹,
    occupancy 64 → p=24).  Recall per qualifying pair falls only
    geometrically in p (cos 0.9 → 0.86^p per table) and is recovered
    by adding tables — the standard multi-probe LSH trade.  The
    DEFAULT (``planes_per_table=None``) applies the rule automatically
    (one cheap count of the input; validated at the 10× probe: p 8→11
    took α from 1.32 back to 0.77 with planted-pair recall still
    100 %).  Pass a fixed ``planes_per_table`` only when the bucket
    layout itself must be reproducible across corpus sizes (e.g. the
    oracle-pinned registry query, or a bucket id reused as a storage
    partition key).
    """
    from spark_streaming_kafka2elasticsearch_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )

    v = F.col(vec_col)
    base = df.select(
        F.col(id_col).alias("_id"),
        v.alias("_v"),
        l2_norm(v).alias("_nrm"),
    ).persist()

    if planes_per_table is None:
        import math as _math

        n_rows = base.count()  # also materializes the persist
        planes_per_table = min(
            24, max(4, _math.ceil(_math.log2(max(n_rows, 1) / target_occupancy)))
        )

    # All tables×planes dot products in one NARROW codegen dataflow:
    # posexplode the vector, broadcast-join a tiny literal planes table
    # (plane, component, ±1), partial-agg sum per (vector, plane), then
    # assemble each table's bucket id with a second narrow agg.  Two
    # wide alternatives measured worse: interpreted per-plane folds
    # (srp_bucket's shape — kept there for its bit-exact oracle) ran
    # ~3× slower steady-state, and a 64-sum-column aggregate with
    # literal sign arrays paid ~6 s of janino compilation per session.
    # Bucket assignment only needs the dot's SIGN, so shuffled-sum ulp
    # noise is irrelevant (dominated by the per-plane collision
    # probability the recall math already prices).
    kern = _srp_buckets_kernel_or_none(base, tables, planes_per_table, dim)
    if kern is not None:
        # One Arrow crossing replaces the |n|·dim·planes join-agg
        # exchange and both groupBys (guide §4.2/§2.4) — see the
        # kernel's sign-tolerance argument; the dataflow below stays
        # as the fallback and the reference semantics.
        banded = kern.persist()
    else:
        total_planes = tables * planes_per_table
        spark = df.sparkSession
        plane_rows = [
            (p, j, float(s))
            for p in range(total_planes)
            for j, s in enumerate(_plane_signs(p, dim))
        ]
        planes = spark.createDataFrame(plane_rows, ["_p", "_j", "_sign"])
        comps = base.select(
            "_id",
            F.posexplode(F.col("_v").cast("array<double>")).alias("_j", "_x"),
        )
        bits = (
            comps.join(F.broadcast(planes), "_j")
            .groupBy("_id", "_p")
            .agg(F.sum(F.col("_x") * F.col("_sign")).alias("_dot"))
            .select(
                "_id",
                (F.col("_p") / planes_per_table).cast("int").alias("table_id"),
                # plane index within its table, MSB-first (srp_bucket)
                (
                    (F.col("_dot") >= 0).cast("long")
                    * F.expr(
                        f"shiftleft(1L, {planes_per_table} - 1"
                        f" - int(_p % {planes_per_table}))"
                    )
                ).alias("_bit"),
            )
        )
        banded = (
            bits.groupBy("_id", "table_id")
            .agg(F.sum("_bit").alias("bucket"))
            .persist()
        )

    pairs = _capped_bucket_pairs(banded, ["table_id", "bucket"], max_bucket_size)
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_nrm").alias("_na")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_nrm").alias("_nb")
    )
    denom = F.col("_na") * F.col("_nb")
    result = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(denom == 0, F.lit(None))
            .otherwise(dot_product("_va", "_vb") / denom)
            .alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    # Release both staged intermediates (r6 advisory): the verified
    # pair set is census-bounded; one checkpoint block, no leaked
    # persists for callers that never run release_cached_state.
    # ``materialize=False`` returns the LAZY relation (plan inspection,
    # composition); the caller then owns cache release — same contract
    # as semdedup_assignments.
    if not materialize:
        return result
    final = result.localCheckpoint(eager=True)
    base.unpersist()
    banded.unpersist()
    return final


def semdedup_assignments(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    materialize: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic
    deduplication: cluster the embedding space, then prune — inside
    each cluster only — every vector that is ≥ ``threshold`` cosine
    to a lower-id clustermate.  Returns one row per input vector:
    (id, cluster_id, max_intra_sim, keep).

    The insight that makes this tractable at corpus scale is that
    near-duplicate semantics only need INTRA-cluster comparisons: with
    c ≈ √n balanced clusters the pair work drops from n²/2 to ~n^1.5,
    and each cluster's pair scan is an independent, shuffle-local
    hash-join on ``cluster_id``.  The plan here is three joins, all
    scale-safe:

    1. assignment — an Arrow ``mapInPandas`` matmul: the centroid
       matrix (c×dim — small BY CONTRACT: even c = √n = 31 623 at
       n = 10⁹ is 8 MB of float64, the same "collect the small side"
       contract brute_force_topk_pandas makes) ships in the task
       closure, each Arrow batch scores its vectors against ALL
       centroids in one BLAS matmul and emits (id, cluster_id) — the
       corpus is scanned ONCE with no join and no shuffle at all.
       Two Catalyst shapes were measured and rejected at the 10×
       probe: an unconditioned broadcast cross join (plan-audit
       cartesian, interpreted fold per pair) and a posexplode +
       broadcast hash join on the component index (materializes
       n·dim·c join rows — 181 M at n=20 k, c=142; α=1.57).  BLAS
       pairwise summation reorders float adds vs the sequential fold,
       which is safe here because the sims feed ONLY the argmax and
       tie-break (sim DESC, centroid_id ASC — numpy argmax on the
       cid-sorted matrix picks the smallest cid among exact ties):
       assignment flips only if two centroids tie within ~1e-15, and
       the probed top1−top2 margin on this corpus is ≥ 2.3e-4 —
       eleven orders above the noise.  No similarity VALUE from this
       stage is emitted.  Zero-norm vectors assign to the smallest
       centroid id (sims undefined), matching the Catalyst/SQL
       null-ordering rule.
    2. intra-cluster pair scan — self-join on cluster_id with
       ``id_a < id_b``; norms hoisted per vector so each pair costs
       one fused fold.
    3. greedy keep rule — vector b is pruned iff SOME a < b in its
       cluster has cos(a,b) ≥ threshold.  Greedy-by-id is SemDeDup's
       own rule (keep one representative per ε-ball, don't chase
       transitive closure); it needs only a groupBy max per b, not a
       connected-components pass.

    The caller chooses the centroid table.  For the oracle-checked
    registry query the centroids are a deterministic literal rule (the
    c lowest-id vectors — reproducible in any engine); a production
    run would feed seeded KMeans centers (see ivf_topk's fit) — the
    operator is agnostic.
    """
    from spark_streaming_kafka2elasticsearch_spark.functions.vectors import (
        dot_product,
        l2_norm,
    )

    import numpy as np
    import pandas as pd

    # Referenced twice (assignment scan, pair-scan sides) —
    # materialize once.
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        l2_norm(vec_col).alias("_nrm"),
    ).persist()
    crows = _quantizer_rows(
        centroids, None, True, None, centroid_id, centroid_vec,
        "semdedup_assignments",
    )
    c_ids = np.array([int(r[0]) for r in crows], dtype=np.int64)
    C = np.array([[float(x) for x in r[1]] for r in crows], dtype=np.float64)
    cnorm = np.sqrt((C * C).sum(axis=1))
    cnorm_safe = np.where(cnorm == 0.0, 1.0, cnorm)

    def assign_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["_id"].to_numpy(dtype=np.int64)
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            vnorm = np.sqrt((V * V).sum(axis=1))
            denom = np.where(vnorm == 0.0, 1.0, vnorm)[:, None] * cnorm_safe[None, :]
            sims = (V @ C.T) / denom
            # zero-norm rows: all sims 0 → argmax picks index 0 = min cid
            sims = np.where((vnorm[:, None] == 0.0) | (cnorm[None, :] == 0.0), 0.0, sims)
            best = sims.argmax(axis=1)  # first max = smallest cid on ties
            yield pd.DataFrame({"_id": ids, "cluster_id": c_ids[best]})

    assigned = base.select("_id", "_v").mapInPandas(
        assign_batches, schema="_id long, cluster_id long"
    ).join(base, "_id")
    a = assigned.select(
        F.col("cluster_id"),
        F.col("_id").alias("_ida"),
        F.col("_v").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = assigned.select(
        F.col("cluster_id"),
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    pdenom = F.col("_na") * F.col("_nb")
    # max cosine from any LOWER-id clustermate, per vector b.
    best_prior = (
        a.join(b, "cluster_id")
        .filter(F.col("_ida") < F.col("_idb"))
        .select(
            F.col("_idb").alias("_id"),
            F.when(pdenom == 0, F.lit(None))
            .otherwise(dot_product("_va", "_vb") / pdenom)
            .alias("_sim"),
        )
        .groupBy("_id")
        .agg(F.max("_sim").alias("max_intra_sim"))
    )
    result = assigned.join(best_prior, "_id", "left").select(
        F.col("_id").alias(id_col),
        "cluster_id",
        "max_intra_sim",
        (
            F.col("max_intra_sim").isNull()
            | (F.col("max_intra_sim") < F.lit(threshold))
        ).alias("keep"),
    )
    # Release the persisted (id, vector, norm) base (r6 advisory).
    # The keep-decision table is 4 narrow columns — at corpus scale a
    # production run stages exactly this relation anyway, so the
    # checkpoint is the natural materialization boundary.
    # ``materialize=False`` returns the LAZY relation instead (plan
    # inspection, further composition); the caller then owns cache
    # release (release_cached_state between queries).
    if not materialize:
        return result
    final = result.localCheckpoint(eager=True)
    base.unpersist()
    return final


def bq_sign_code(vec_col: str, dim: int) -> Column:
    """BINARY quantization encode: pack ``sign(x_j) > 0`` bits into
    ⌈dim/32⌉ little-endian 32-bit words (an ``array<bigint>``) — the
    32× compression rung below SQ8's 4× (one bit per dimension, no
    training, no codebook; the construction RaBitQ/Lucene-style
    binary vector search builds on).  Words hold 32 bits each so
    every partial sum stays far from BIGINT overflow — DuckDB
    overflow-checks ``1 << 63``, so a single 64-bit word would not be
    cross-engine expressible.  Pure codegen: one ``transform`` over
    word indices, one ``aggregate`` over bit positions, zero shuffle,
    zero UDF."""
    n_words = (dim + 31) // 32
    return F.expr(
        f"""transform(sequence(0, {n_words - 1}), w ->
              aggregate(sequence(1, 32), 0L, (acc, b) ->
                acc + CASE WHEN w * 32 + b <= {dim}
                            AND element_at({vec_col}, w * 32 + b) > 0D
                           THEN shiftleft(1L, b - 1) ELSE 0L END))"""
    )


def bq_hamming_expr(a: str, b: str) -> Column:
    """Hamming distance between two packed sign-bit codes: per-word
    ``bit_count(xor)`` summed — integer-exact, identical in any
    engine with 64-bit ints."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)),"
        " 0, (acc, h) -> acc + h)"
    )


def bq_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """Binary-quantized ANN: encode both sides with
    :func:`bq_sign_code`, rank by packed-word Hamming distance — the
    cheapest serving rung of the quantization matrix (PQ 32×/8 B,
    SQ8 4×/d B, BQ here: d/8 bytes and the scorer is XOR+popcount,
    no floats at all).  Integer distances and id tie-breaks make the
    whole ranking trivially bit-replayable.

    Scale shape: the query codes broadcast (small by contract), ONE
    corpus scan encodes and scores — at rest the codes column is
    d/8 bytes/vector and the scan reads nothing else (store it
    alongside an IVF cell key to add pruning).  The top-k cut's partial
    WindowGroupLimit keeps the global window input at
    |partitions|·k·|queries| rows.

    Output: ``(query_id, neighbor_id, hamming, rank)``.

    ``corpus_codes`` (a ``(neighbor_id, code)`` DataFrame — the
    :func:`bq_persist_codes` layout) serves from AT-REST packed codes
    instead of encoding in-flight: the scan then reads d/8 bytes per
    vector and nothing else, which is the whole point of the rung.
    """
    if corpus_codes is not None:
        c = corpus_codes.select(
            F.col("neighbor_id"), F.col("code").alias("_ccode")
        )
    else:
        c = corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            bq_sign_code(corpus_vec, dim).alias("_ccode"),
        )
    q = queries.select(
        F.col(query_id).alias("query_id"),
        bq_sign_code(query_vec, dim).alias("_qcode"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            bq_hamming_expr("_qcode", "_ccode").alias("hamming"),
        )
    )
    return top_k_per(
        scored, ["query_id"], [F.asc("hamming"), F.asc("neighbor_id")], k
    ).select(
        "query_id",
        "neighbor_id",
        F.col("hamming").cast("int").alias("hamming"),
        F.col("rank").cast("int").alias("rank"),
    )


#: At-rest flat-BQ layout: packed sign codes under ``<index>/_bq``
#: with a JSON meta sidecar (fingerprint + dim), the VectorIndex
#: serving payload for method="bq"/"bq_refine".
_BQ_CODES_SUBDIR = "_bq"
_BQ_META = "_bq_meta.json"


def bq_persist_codes(
    corpus: DataFrame | None,
    path: str,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    fingerprint: str | None = None,
    rebuild: bool = False,
    spark=None,
) -> DataFrame:
    """Lay the packed 1-bit sign codes down AT REST —
    ``<path>/_bq`` parquet ``(neighbor_id, code)`` with a
    fingerprint-stamped meta sidecar — so the flat-BQ serving rungs
    (:func:`bq_hamming_topk`, :func:`bq_refine_topk` via
    ``corpus_codes``) read d/8 bytes per vector from disk instead of
    re-encoding the float corpus on every call (VERDICT r11 item 5:
    the codes ARE the at-rest payload by design).  Same
    build-once-serve-many behavior as :func:`knn_graph_persist`:
    a matching meta short-circuits to a plain parquet scan, a
    missing/stale meta (re)builds from ``corpus``.  The encode itself
    is ONE corpus scan through the codegen'd sign fold — no shuffle,
    no UDF."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        read_meta,
        write_meta,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        read_table,
        write_table,
    )

    codes_dir = os.path.join(path, _BQ_CODES_SUBDIR)
    params = dict(dim=dim, version=1)
    ss = spark or (corpus.sparkSession if corpus is not None else None)
    if ss is None:
        raise ValueError("bq_persist_codes needs corpus or spark")
    meta = None if rebuild else read_meta(path, _BQ_META)
    if meta is not None and meta.get("params") == params and (
        fingerprint is None or meta.get("fingerprint") == fingerprint
    ):
        return read_table(ss, codes_dir)
    if corpus is None:
        raise ValueError(
            f"no (or stale) BQ codes under {codes_dir} — "
            "pass the corpus to (re)build"
        )
    codes = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        bq_sign_code(corpus_vec, dim).alias("code"),
    )
    write_table(codes, codes_dir)
    write_meta(path, _BQ_META, {"fingerprint": fingerprint, "params": params})
    return read_table(ss, codes_dir)


def _bq_meta_restamp(path: str, new_fingerprint: str | None) -> None:
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        index_meta,
        write_meta,
    )

    if new_fingerprint is None:
        return
    meta = index_meta(path, _BQ_META)
    meta["fingerprint"] = new_fingerprint
    write_meta(path, _BQ_META, meta)


def bq_persist_append(
    delta: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    new_fingerprint: str | None = None,
) -> None:
    """Incremental maintenance for the at-rest BQ codes — the
    daily-increment primitive of the flat-BQ rung (the
    :func:`ivf_persisted_append` doctrine at d/8 bytes/row): the delta
    is encoded with the SAME codegen'd sign fold (encoding is per-row
    deterministic and training-free — BQ has no quantizer that could
    drift) and APPENDED as new parquet files; existing code files are
    untouched, so ``serve(base ∪ delta)`` is byte-identical to a full
    re-encode over the union — which is what the consuming query's
    oracle checks.  ``new_fingerprint`` should describe the corpus
    AFTER the append, so stale-guard serves validate against the
    maintained state.  Cost: one scan of the DELTA."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        write_table,
    )

    dim = _bq_read_dim(path)
    codes = delta.select(
        F.col(corpus_id).alias("neighbor_id"),
        bq_sign_code(corpus_vec, dim).alias("code"),
    )
    write_table(codes, os.path.join(path, _BQ_CODES_SUBDIR), mode="append")
    _bq_meta_restamp(path, new_fingerprint)


def bq_persist_delete(
    deleted_ids: DataFrame,
    path: str,
    spark=None,
    id_col: str = "vec_id",
    new_fingerprint: str | None = None,
) -> None:
    """DELETE from the at-rest BQ codes (erasure parity with
    :func:`ivf_persisted_delete` / :func:`knn_graph_delete`): the code
    relation is rewritten with the deleted ids anti-joined out.  The
    layout is UNPARTITIONED by design (d/8 bytes/row — the whole
    point of the rung is that a full pass is cheap), so unlike the
    cell-partitioned IVF delete this IS a full rewrite of the code
    files — of a payload 32× smaller than the vectors; at 100 TB of
    float vectors the code relation is ~1.6 TB and the rewrite is one
    scan-and-write, landed through :func:`sources.writer.swap_table`
    (it reads the table it replaces, and a crash leaves the old or
    the new codes).  Post-delete serving is bit-equal to re-encoding
    the surviving corpus (codes are per-row deterministic)."""
    import os

    from spark_streaming_kafka2elasticsearch_spark.sources.writer import (
        read_table,
        swap_table,
    )

    ss = spark or deleted_ids.sparkSession
    codes_dir = os.path.join(path, _BQ_CODES_SUBDIR)
    dele = deleted_ids.select(F.col(id_col).alias("neighbor_id")).distinct()
    remaining = read_table(ss, codes_dir).join(
        F.broadcast(dele), "neighbor_id", "left_anti"
    )
    swap_table(remaining, codes_dir)
    _bq_meta_restamp(path, new_fingerprint)


def _bq_read_dim(path: str) -> int:
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        index_meta,
    )

    return int(index_meta(path, _BQ_META).get("params", {}).get("dim", 64))


def bq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 50,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """Two-stage BQ serve (the RefineFlat idiom shared with
    ivfadc_refine_topk): Hamming shortlist of ``shortlist`` candidates
    from the 1-bit codes, then exact-cosine re-rank of only those —
    sign bits preserve direction coarsely, so the shortlist recall is
    high while the scan stays XOR+popcount; the float vectors are
    touched for ``shortlist`` rows per query only.

    Output: ``(query_id, neighbor_id, rank)`` — exact-cosine rank
    within the shortlist, id tie-breaks at both stages.

    ``corpus_codes`` serves the Hamming stage from at-rest packed
    codes (:func:`bq_persist_codes`); the float vectors are still
    read for the ``shortlist``-sized re-rank — by design the only
    stage that touches them.
    """
    short = bq_hamming_topk(
        corpus,
        queries,
        k=shortlist,
        dim=dim,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        query_id=query_id,
        query_vec=query_vec,
        corpus_codes=corpus_codes,
    ).select("query_id", "neighbor_id")
    vecs = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("_cvec"),
    )
    qvecs = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("_qvec"),
    )
    rescored = (
        short.join(vecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("_qvec"), F.col("_cvec")).alias("_sim"),
        )
    )
    return top_k_per(
        rescored, ["query_id"], [F.desc("_sim"), F.asc("neighbor_id")], k
    ).select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"))


def ivf_bq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | None,
    path: str,
    k: int = 10,
    n_probe: int = 2,
    dim: int = 64,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
    rebuild: bool = True,
    fingerprint: str | None = None,
) -> DataFrame:
    """IVF-BQ — the last rung of the quantized-serving matrix (IVF ×
    {floats, SQ8 4×, PQ 32×, and now 1-bit sign codes at 32× with a
    float-free scorer}): the coarse quantizer partition-prunes exactly
    like :func:`ivf_persisted_topk`, the at-rest payload is
    :func:`bq_sign_code`'s d/8 bytes per vector, and scoring probed
    candidates is pure XOR+popcount — no LUT, no dequantization, no
    floats, integer distances that replay bit-for-bit anywhere.

    **Build**: ONE corpus scan computes cell (shared bit-exact
    quantizer, hoisted norm) and the packed sign words in one folded
    projection; (id, cell, code) lands ``partitionBy(cell)`` with the
    centroid artifact at rest.  **Serve**: ranked probe cells,
    PartitionFilters-pruned read, broadcast query codes, per-word
    ``bit_count(xor)`` sums, one top-k cut.  Output: ``(query_id,
    cell, neighbor_id, hamming, rank)``."""
    from spark_streaming_kafka2elasticsearch_spark.operators.artifacts import (
        save_centroids,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import write_table

    crows = _quantizer_rows(
        centroids, path, rebuild, fingerprint, centroid_id, centroid_vec,
        "ivf_bq_topk",
    )
    if rebuild:
        assigned = _assigned_cells(
            corpus.select(
                F.col(corpus_id).alias("neighbor_id"),
                F.col(corpus_vec).alias("_nvec"),
            ),
            crows,
            ["neighbor_id", "_nvec"],
            "_nvec",
        ).select("neighbor_id", "cell", bq_sign_code("_nvec", dim).alias("code"))
        write_table(assigned, path, partition_by=["cell"])
        save_centroids(path, crows, fingerprint=fingerprint)

    q_cells, index = _probed_scan(
        queries,
        crows,
        path,
        query_vec,
        n_probe,
        [
            F.col(query_id).alias("query_id"),
            bq_sign_code(query_vec, dim).alias("_qcode"),
        ],
    )
    pairs = index.join(F.broadcast(q_cells), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        bq_hamming_expr("_qcode", "code").alias("hamming"),
    )
    return top_k_per(
        scored, ["query_id"], [F.asc("hamming"), F.asc("neighbor_id")], k
    ).select(
        "query_id",
        F.col("cell").cast("long").alias("cell"),
        "neighbor_id",
        F.col("hamming").cast("int").alias("hamming"),
        F.col("rank").cast("int").alias("rank"),
    )

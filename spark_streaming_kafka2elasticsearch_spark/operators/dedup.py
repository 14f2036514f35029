"""Deduplication operators — exact and near-duplicate.

The training-data-pipeline extension family: at 100 TB, dedup is the
dominant corpus-curation cost, and the scale story differs per flavor:

* **exact** — a hash-groupBy: one shuffle on the text hash (not the
  text!), map-side partial aggregation, linear.
* **fingerprint** — same, after whitespace/case canonicalization.
* **MinHash + LSH banding** — signatures are a narrow map (k hashes ×
  shingles per doc, all in codegen); banding turns O(n²) pair search
  into a groupBy on (band, band-hash) — candidate pairs only where a
  band collides; a final exact-Jaccard verify prunes false positives.
  The shuffle volume is |docs|×|bands| small fixed-width rows.
* **blocked n-gram Jaccard** — exact Jaccard within user-supplied
  blocking keys; the block join is a shuffle on the block key.

Everything is built-in Catalyst (higher-order array functions +
xxhash64); no UDFs, no driver-side loops.

Cache-lifetime contract: pair operators ``persist()`` small
intermediates that multiple subtrees of the RETURNED lazy plan consume
(banded signatures, candidate shingle relations, simhash tables) —
without the boundary Spark re-executes the whole signature job per
consumer.  Those caches belong to the returned DataFrame, so they can
only be released AFTER the caller materializes it: call
``spark.catalog.clearCache()`` (what bench.py and a staged 100 TB run
do between stages) or unpersist explicitly.  The connected-components
drivers are the exception — they manage and release every cache
internally before returning a checkpointed result.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.functions.text import md5_hash64, tokens
from spark_streaming_kafka2elasticsearch_spark.operators.twins import (
    _csr_gather,
    _isin_sorted,
    _pack_pairs,
    collect_ids,
)

# ---------------------------------------------------------------------------
# exact / fingerprint dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(
    df: DataFrame, key_cols: Sequence[str], id_col: str
) -> DataFrame:
    """One row per distinct key: canonical (min) id + duplicate count.
    The group-by key should be a hash for wide text columns — see the
    query layer — so the shuffle moves 16 bytes, not documents."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("canonical_" + id_col),
        F.count(F.lit(1)).alias("n_dupes"),
    )


def exact_dedup(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Keep one arbitrary row per key (Spark's native dropDuplicates)."""
    return df.dropDuplicates(list(key_cols))


# ---------------------------------------------------------------------------
# shingles + MinHash
# ---------------------------------------------------------------------------


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (array<string>), space-joined.

    ``slice`` + ``concat_ws`` over a ``sequence`` — pure codegen.  Docs
    shorter than k tokens yield their full token join as one shingle so
    no document silently disappears from dedup.
    """
    t = F.col(text) if isinstance(text, str) else text
    toks = tokens(t)
    n = F.size(toks)
    k_lit = F.lit(k)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - k_lit + 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return F.array_distinct(F.filter(grams, lambda g: g != ""))


def shingle_relation(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    extra_cols: Sequence[str] = (),
    distinct: bool = True,
) -> DataFrame:
    """Narrow (``_id``, *extra_cols*, ``_sh``) relation of k-token
    shingles — the codegen'd twin of :func:`shingles`.

    Plan shape is the whole point: the array form (``transform`` +
    ``slice`` + ``concat_ws`` per document) runs on Catalyst's
    *interpreted* higher-order-function path and dominated round-1
    bench tails (it re-evaluates per plan branch, too).  Here we
    ``posexplode`` the token array once, carry the array alongside,
    and assemble each shingle with 0-based ``get`` lookups at
    position+1..position+k−1 — split, explode, get, concat are all
    whole-stage-codegen and there is **no shuffle at all** (a
    ``lead()``-window variant was measured 8× slower purely on its
    sort exchange).  ``get`` is the null-safe accessor, so short docs
    never trip ANSI array-bounds errors.

    Semantics match :func:`shingles`: docs shorter than ``k`` tokens
    yield one shingle joining all their tokens (``concat_ws`` skips
    the null lookups); ``distinct=True`` dedups shingles per document
    (set semantics — required for Jaccard; MinHash can skip it,
    ``min`` is duplicate-insensitive).
    """
    t = tokens(F.col(text_col))
    toks = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in extra_cols],
        t.alias("_toks"),
    ).select(
        "_id",
        *extra_cols,
        "_toks",
        F.posexplode("_toks").alias("_i", "_tok"),
    )
    parts = [F.col("_tok")] + [
        F.get(F.col("_toks"), F.col("_i") + j) for j in range(1, k)
    ]
    rel = (
        # 0-based: rows 0..n-k are full shingles; short docs keep row 0,
        # whose concat_ws skips the null lookups → the whole-doc shingle.
        toks.filter(F.col("_i") <= F.greatest(F.size("_toks") - k, F.lit(0)))
        .select("_id", *extra_cols, F.concat_ws(" ", *parts).alias("_sh"))
    )
    return rel.distinct() if distinct else rel


def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
) -> DataFrame:
    """Benchmark decontamination: for each training document, the
    number of DISTINCT k-gram shingles it shares with any benchmark
    document — ``(id_col, n_contaminated_ngrams)``, hits only.

    The classic eval-leak detector (GPT-3 appendix C used 13-grams):
    a training doc carrying verbatim benchmark n-grams inflates eval
    scores and must be dropped or scrubbed before training.

    Scale shape: both sides use the zero-shuffle codegen
    :func:`shingle_relation`; the benchmark side is reduced to its
    DISTINCT shingle set and **broadcast** — a benchmark corpus is
    MBs against a 100 TB training corpus, so the scan side never
    shuffles and the per-doc count is one partial aggregation on the
    already-id-clustered explode output.  If the benchmark set ever
    outgrew a broadcast, the same relation feeds a bloom-filter
    prefilter with this exact join as the verify stage.
    """
    tr = shingle_relation(train, id_col, text_col, k=k)
    ev = shingle_relation(benchmark, id_col, text_col, k=k).select("_sh").distinct()
    return (
        tr.join(F.broadcast(ev), "_sh")
        .groupBy(F.col("_id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def ngram_contamination_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 13,
    bucket_bits: int = 32,
) -> DataFrame:
    """:func:`ngram_contamination` for when the benchmark shingle
    STRINGS outgrow a broadcast: a relational one-hash Bloom prefilter.

    The benchmark side is reduced to its distinct ``bucket_bits``-bit
    hash buckets — 8-byte ints, ~10× smaller than 13-gram strings —
    and THAT set is broadcast; training shingles semi-join it by
    bucket, and only the survivors (true hits + an ~|train-shingles|/
    2^bits false-positive trickle) reach the exact string-equality
    verify, which at scale is a shuffle join over the tiny surviving
    subset instead of a corpus-wide broadcast join.  False positives
    cannot reach the output (the verify is exact) and false negatives
    are impossible (equal strings hash to equal buckets) — so the
    result is IDENTICAL to :func:`ngram_contamination`, which is
    exactly what the driver oracle proves.
    """
    tr = shingle_relation(train, id_col, text_col, k=k)
    # ev feeds BOTH the bucket build and the verify join — persist the
    # boundary or the benchmark shingle job runs twice (module cache
    # contract: released by the caller's clearCache/unpersist).
    ev = (
        shingle_relation(benchmark, id_col, text_col, k=k)
        .select("_sh")
        .distinct()
        .persist()
    )
    mask = F.lit((1 << bucket_bits) - 1)
    buckets = ev.select(F.xxhash64("_sh").bitwiseAND(mask).alias("_bkt")).distinct()
    survivors = tr.withColumn(
        "_bkt", F.xxhash64("_sh").bitwiseAND(mask)
    ).join(F.broadcast(buckets), "_bkt", "left_semi")
    return (
        survivors.join(ev, "_sh")
        .groupBy(F.col("_id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_contaminated_ngrams"))
    )


def minhash_signatures_wide(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` wide columns ``mh_0..mh_n``.

    Plan shape matters enormously here: the naive formulation —
    ``transform(shingles, sh -> xxhash64(sh, i))`` per hash function —
    runs in Catalyst's *interpreted* higher-order-function path and was
    measured ~30× slower.  Instead: **explode** the shingle array to a
    narrow (id, shingle) relation, compute the 64 hash functions as
    plain codegen'd columns (``xxhash64(shingle, seed_i)``), and take
    ``min`` of each in one partial-aggregating groupBy.  At scale this
    is a single map + one shuffle of 64 longs per document — partial
    min-combine means executors ship one row per (doc × 64 longs),
    regardless of shingle count.

    ``hash_family``:
      * ``"xxhash64"`` (default) — seeded JVM xxhash64 per function,
        the fastest path;
      * ``"md5"`` — ONE md5 per shingle split into 32-bit halves
        (h1, h2), then Kirsch–Mitzenmacher double hashing
        ``g_i = (h1 + i·h2) mod 2^32`` (h2 forced odd).  Every g_i is
        exactly reproducible in any SQL engine with md5 — this is what
        makes the registered LSH query fully value-checkable by the
        DuckDB oracle — and the 38-bit intermediate never overflows a
        long, so ANSI mode stays happy.  Sketch quality: K-M is the
        standard multi-hash derivation (provably preserves the MinHash
        collision bound); the 2^32 value space adds a ~|union|/2^32
        min-tie bias — negligible below billions of distinct shingles.
    """
    from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import (
        fan_out_small_scan,
    )

    # The per-shingle hash work below is the CPU-heavy stage and the
    # sf-scale documents scan is ONE split — fan the narrow doc rows
    # out across task slots first (scale-adaptive no-op on an
    # already-parallel scan; see operators/partitioning).
    exploded = shingle_relation(
        fan_out_small_scan(df.select(id_col, text_col)),
        id_col,
        text_col,
        k_shingle,
        distinct=False,
    )
    if hash_family == "md5":
        # Stage the md5 halves in their own projection so the single
        # md5 per shingle is structurally shared — the K-M columns then
        # reference _h1/_h2, never re-derive them.
        hx = F.md5(F.col("_sh"))
        halves = exploded.select(
            "_id",
            F.conv(F.substring(hx, 1, 8), 16, 10).cast("long").alias("_h1"),
            F.conv(F.substring(hx, 9, 8), 16, 10)
            .cast("long")
            .bitwiseOR(F.lit(1))
            .alias("_h2"),
        )
        # One selectExpr parse for all 64 K-M columns: the per-column
        # Column-API form costs ~6 py4j round-trips each (~400 gateway
        # calls per invocation — measured seconds of driver chatter
        # under host contention); the SQL strings parse to the
        # identical Add/Multiply/BitwiseAnd trees in one call.
        hashed = halves.selectExpr(
            "_id",
            *[
                f"(_h1 + {i} * _h2) & 4294967295 AS _h{i}"
                for i in range(num_hashes)
            ],
        )
    elif hash_family == "xxhash64":
        hashed = exploded.selectExpr(
            "_id",
            *[f"xxhash64(_sh, {i}) AS _h{i}" for i in range(num_hashes)],
        )
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return hashed.groupBy("_id").agg(
        *[F.expr(f"min(_h{i}) AS mh_{i}") for i in range(num_hashes)]
    )


def _capped_bucket_pairs(
    banded: DataFrame, bucket_cols: list[str], max_bucket_size: int
) -> DataFrame:
    """Every ``(id_a < id_b)`` pair sharing a bucket of ``banded``
    (``_id`` plus the ``bucket_cols`` key), distinct over buckets.

    Pass 1 is a bounded-memory bucket census (partial agg: each task
    ships one count per local bucket) that keeps buckets of 2 to
    ``max_bucket_size`` members; pass 2 joins the survivors back on the
    same key, so both shuffles share it.  Each bucket's sorted member
    list expands to its pairs in one nested ``transform``/``slice``
    explode — quadratic only inside the census cap."""
    ok_buckets = (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter((F.col("_m") > 1) & (F.col("_m") <= max_bucket_size))
        .select(*bucket_cols)
    )
    members = F.col("members")
    return (
        banded.join(ok_buckets, bucket_cols)
        .groupBy(*bucket_cols)
        .agg(F.array_sort(F.collect_set("_id")).alias("members"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        members,
                        lambda a, i: F.transform(
                            F.slice(members, i + 2, F.size(members)),
                            lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# the set-overlap core shared by the near-dup pair operators
# ---------------------------------------------------------------------------


def _blocked_shingles(df, id_col, block_cols, text_col, k_shingle) -> DataFrame:
    """(``_id``, ``_block``, ``_sh``): shingles carrying the
    concatenated ``block_cols`` as the ``_block`` key."""
    blocked = df.withColumn("_block", F.concat_ws("", *map(F.col, block_cols)))
    return shingle_relation(blocked, id_col, text_col, k_shingle, ("_block",))


def _jaccard(inter: Column, sz_a: Column, sz_b: Column) -> Column:
    """Exact set Jaccard |A∩B| / (|A| + |B| − |A∩B|), as a double."""
    return inter.cast("double") / (sz_a + sz_b - inter).cast("double")


def _set_sizes(rel: DataFrame) -> DataFrame:
    """(``_id``, ``_sz``): the size of each ``_id``'s set."""
    return rel.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))


def _with_size(pairs: DataFrame, sizes: DataFrame, id_col: str, sz_col: str):
    """``pairs`` plus its ``id_col`` side's :func:`_set_sizes` as ``sz_col``."""
    sized = sizes.select(F.col("_id").alias(id_col), F.col("_sz").alias(sz_col))
    return pairs.join(sized, id_col)


def _jaccard_pairs(inter, sizes_a, sizes_b, a: str, b: str) -> DataFrame:
    """(``a``, ``b``, ``jaccard``) from an (``a``, ``b``, ``_inter``)
    count and each side's :func:`_set_sizes`."""
    sized = _with_size(_with_size(inter, sizes_a, a, "_sz_a"), sizes_b, b, "_sz_b")
    return sized.select(
        a, b, _jaccard(F.col("_inter"), F.col("_sz_a"), F.col("_sz_b")).alias("jaccard")
    )


def _candidate_overlap(pairs, rel_a, rel_b, a: str, b: str, keys=()) -> DataFrame:
    """|A∩B| as ``_inter`` per row of ``pairs``, grouped by its columns
    other than the join-only ``keys``.  ``rel_a``/``rel_b`` are
    (*keys, ``_id``, ``_sh``) sets whose ``_id`` is ``pairs``' ``a``/``b``.
    Each pair expands by A's shingles, then B's set is equi-joined on the
    shingle: only intersection rows materialize, at a cost of Σ |A| over
    the pairs however common a shingle is, so no stop-shingle cap."""
    keys = list(keys)
    return (
        pairs.join(rel_a.select(*keys, F.col("_id").alias(a), "_sh"), [*keys, a])
        .join(rel_b.select(*keys, F.col("_id").alias(b), "_sh"), [*keys, b, "_sh"])
        .groupBy(*[c for c in pairs.columns if c not in keys])
        .agg(F.count(F.lit(1)).alias("_inter"))
    )


def _shared_key_overlap(rel_a, rel_b, keys, a: str, b: str, max_doc_freq):
    """Inverted-index overlap of two (*keys, ``_id``) sets: (``a``,
    ``b``, ``_inter``) shared-key counts, plus each side's
    :func:`_set_sizes`.  A self-join passes one relation twice and keeps
    ``a < b`` of the result (Catalyst pushes that filter on the grouping
    columns into the join).  Keys held by more than ``max_doc_freq``
    ``rel_b`` documents leave both sides (anti-join: keys ``rel_b`` never
    saw stay) before the sizes are counted; ``None`` disables the cap."""
    keys = list(keys)
    if max_doc_freq is not None:
        stop = (
            rel_b.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select(*keys)
        )
        rel_a, rel_b = (r.join(stop, keys, "left_anti") for r in (rel_a, rel_b))
    inter = (
        rel_a.select(*keys, F.col("_id").alias(a))
        .join(rel_b.select(*keys, F.col("_id").alias(b)), keys)
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return inter, _set_sizes(rel_a), _set_sizes(rel_b)


def _band_relation(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(``_id``, ``band_id``, ``band_hash``) from a wide signature
    relation: step 2 of :func:`minhash_lsh_candidate_pairs`."""
    rows_per_band = num_hashes // bands
    # One parse for the whole band array (the Column-API struct build
    # cost ~10 py4j round-trips per band).
    band_sql = ", ".join(
        "struct({b} AS band_id, xxhash64({cols}) AS band_hash)".format(
            b=b,
            cols=", ".join(
                f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sig.selectExpr(
        "_id", f"explode(array({band_sql})) AS band"
    ).select("_id", "band.band_id", "band.band_hash")


def _banded_pair_jaccard(
    banded, docs, id_col, text_col, k_shingle, max_bucket_size
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """Steps 3–5 of :func:`minhash_lsh_candidate_pairs` over a (``_id``,
    ``band_id``, ``band_hash``) relation: the lazy (``id_a``, ``id_b``,
    ``jaccard``) result and the two persisted boundaries it reads (the
    candidate pairs and the candidate documents' shingles), which the
    caller unpersists once it has materialized the result."""
    pairs = _capped_bucket_pairs(
        banded, ["band_id", "band_hash"], max_bucket_size
    ).persist()
    cand_ids = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    # semi-join BEFORE the shingle explode: shingles of candidates only
    relc = shingle_relation(
        docs.join(cand_ids, id_col, "left_semi"), id_col, text_col, k_shingle
    ).persist()
    sizes = _set_sizes(relc)
    inter = _candidate_overlap(pairs, relc, relc, "id_a", "id_b")
    return _jaccard_pairs(inter, sizes, sizes, "id_a", "id_b"), (pairs, relc)


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k_shingle: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: int = 256,
    hash_family: str = "xxhash64",
    materialize: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified with exact
    shingle Jaccard.  Output: (id_a, id_b, jaccard) with id_a < id_b;
    candidate pairs sharing zero shingles are omitted (their Jaccard
    is 0 — useless for dedup and they'd dominate the output).

    ``materialize=False`` returns the LAZY relation (plan inspection,
    composing a filter/limit without paying full materialization); the
    staged persists then stay registered and the caller owns cache
    release (``release_cached_state`` between queries) — same contract
    as semdedup_assignments.

    Plan shape (the 100 TB story):
      1. explode + 64 codegen'd hash columns + min-agg → signatures
         (one shuffle, 64 longs per doc — see minhash_signatures_wide);
      2. per band, a hash of its signature slice → |docs|×|bands|
         fixed-width rows (stacked via an array explode of 16 structs).
         The band hash stays xxhash64 regardless of ``hash_family``:
         bucket membership is EQUALITY of the slice (the hash is just
         a fixed-width key for it), so an external oracle reproduces
         buckets by grouping on the slice VALUES — only the per-shingle
         hashes feeding the signature must be cross-engine;
      3. **bucket-size gate**: a partial-agg count per (band, hash)
         drops buckets with more than ``max_bucket_size`` members
         BEFORE any member list is materialized — one degenerate
         bucket (boilerplate/empty docs) would otherwise expand |m|²
         pairs inside a single task and OOM it.  Hot buckets carry no
         pair-level signal anyway (their members are exact or
         near-exact duplicates that the cheaper exact/fingerprint
         dedup pass catches first);
      4. shuffle groupBy (band_id, band_hash): docs sharing a
         surviving band bucket become candidates — intra-bucket pairs
         only, never a global self-join;
      5. distinct pairs, then exact-Jaccard verification restricted to
         EXACTLY the candidate pairs: expand each pair by id_a's
         shingles, equi-join on (id_b, shingle) → |A∩B| per pair
         (codegen hash joins + agg, no per-pair array scans).  Verify
         cost is Σ over candidate pairs of |A's shingle set| — LINEAR
         in the (census-bounded) pair count.  The earlier shape that
         verified all co-shingle pairs *among candidate documents* was
         measured 200× super-linear on a 10× corpus with planted
         near-dup groups (33.6k banding candidates exploding to 6.7M
         verified pairs): once most documents have ≥1 near-dup, the
         candidate-doc set is the corpus and doc-superset verification
         degenerates into the all-pairs job LSH exists to avoid.

    Materialization boundaries: ``banded`` and the candidate shingle
    relation are each consumed by more than one downstream subtree;
    without a boundary Spark would re-execute the whole signature job
    per consumer (measured 3–5× the single-pass cost).  Both are tiny
    (|docs|×|bands| fixed-width rows; candidate docs only), so they're
    ``persist()``-ed — the in-session analogue of the staged
    checkpoint table a 100 TB dedup run would write between the
    candidate and verify phases.
    """
    sig = minhash_signatures_wide(
        df, id_col, text_col, k_shingle, num_hashes, hash_family
    )
    banded = _band_relation(sig, num_hashes, bands).persist()
    result, staged = _banded_pair_jaccard(
        banded, df, id_col, text_col, k_shingle, max_bucket_size
    )
    # Materialize the (census-bounded, fixed-width) pair result and
    # release the three staged intermediates — library callers that
    # never invoke release_cached_state must not accumulate
    # block-manager state per call (r6 advisory).  One checkpointed
    # final replaces three leaked persists; the same final-checkpoint
    # contract as connected_components/pagerank.
    if not materialize:
        return result
    final = result.localCheckpoint(eager=True)
    for boundary in (banded, *staged):
        boundary.unpersist()
    return final


# ---------------------------------------------------------------------------
# blocked exact n-gram Jaccard (oracle-expressible flavor)
# ---------------------------------------------------------------------------


def blocked_ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    text_col: str = "text",
    k_shingle: int = 3,
    min_jaccard: float = 0.05,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Intra-block pairs with exact k-gram Jaccard >= threshold (> 0).

    Shape: inverted index, not a pairwise block self-join — the
    codegen'd :func:`shingle_relation` gives (block, shingle, id);
    self-join on (block, shingle), count shared shingles per pair,
    derive Jaccard from set sizes.  Cost is sum_shingle df**2 (docs
    sharing that shingle, within a block) instead of sum_block
    |block|**2 full-array comparisons, and every operator is a
    codegen'd hash join/agg.  Measured ~40x faster than the
    array-intersect formulation at 5k docs; the gap widens with scale.

    ``max_doc_freq`` bounds the quadratic term: a shingle shared by d
    docs contributes d**2 join rows, so corpus-scale stop-shingles
    (boilerplate headers, near-empty docs) make sum df**2
    super-linear.  Shingles whose block-level document frequency
    exceeds the cap are dropped from every document's set
    consistently — they carry no dedup signal (a feature half the
    corpus shares distinguishes nothing) — and set sizes are
    recounted post-cap so the metric stays a true Jaccard of the
    reduced sets.  ``None`` disables the cap.

    A zero-intersection pair never materializes, hence the threshold
    must be positive (Jaccard-0 pairs are useless for dedup anyway).
    """
    if min_jaccard <= 0:
        raise ValueError("min_jaccard must be > 0 (zero-overlap pairs never materialize)")
    tok = _blocked_shingles(df, id_col, block_cols, text_col, k_shingle)
    inter, sizes, _ = _shared_key_overlap(
        tok, tok, ["_block", "_sh"], "id_a", "id_b", max_doc_freq
    )
    return (
        _jaccard_pairs(
            inter.filter(F.col("id_a") < F.col("id_b")), sizes, sizes, "id_a", "id_b"
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    text_col: str = "text",
    k_shingle: int = 3,
    min_jaccard: float = 0.5,
    materialize: bool = True,
) -> DataFrame:
    """AllPairs/PPJoin-style **prefix-filtered** set-similarity self-
    join (Bayardo et al. 2007; Xiao et al. 2008): every intra-block
    pair with exact k-gram Jaccard ≥ ``min_jaccard`` — with NO recall
    tradeoff and NO document-frequency cap.  The shingle relation
    feeds four plan branches (df census, rarity ranking, both verify
    sides), so it is checkpointed once and released after the eager
    result materializes; ``materialize=False`` returns the LAZY plan
    (composition / plan inspection) and the caller owns cache release
    — the same contract as the other pair operators here.

    The third candidate-generation strategy in this module, filling
    the gap between the other two: :func:`blocked_ngram_jaccard_pairs`
    caps stop-shingle df (changes the metric — sets are reduced), and
    MinHash banding is probabilistic (recall < 1).  Prefix filtering
    is EXACT and complete: order each document's shingles by global
    rarity (``(block df, shingle)`` — a total order), index only the
    first ``n − ⌈t·n⌉ + 1`` of its ``n`` shingles, and join on those
    prefix shingles.  The theorem (the pytest re-derives it by brute
    force): if ``J(x,y) ≥ t`` then the smallest common shingle lies in
    BOTH prefixes — were all common shingles outside x's prefix,
    ``|x∩y| ≤ ⌈t·|x|⌉ − 1 < t·|x|``, contradicting
    ``|x∩y| ≥ t/(1+t)·(|x|+|y|) ≥ t·|x|`` (since ``|y| ≥ t·|x|``).
    Surviving pairs pass PPJoin's POSITIONAL filter (rank-derived
    overlap upper bound, see inline proof — also zero recall loss)
    before the exact intersection count and threshold.

    Scale shape: the corpus-killing stop-shingles the df-cap family
    drops are handled here by ORDER, not removal — a shingle half the
    block shares sorts LAST and never enters the index unless a
    document is so small its prefix reaches it, so the inverted index
    join runs on rare shingles (tiny df, tiny df² cost) while the
    metric stays the TRUE uncapped Jaccard.  The rarity ranking is a
    per-document ``row_number`` (partitioned window, no global sort);
    the verify stage touches candidate pairs × set size, the textbook
    post-filter cost.  High thresholds (0.5+) keep prefixes short —
    prefix length falls linearly as t rises.
    """
    # (r15 note: a fan_out_small_scan of the blocked input was
    # A/B-measured LOSING here — 2.55 -> 2.91 s — shingle assembly is
    # cheap string work and the checkpoint boundary already bounds it;
    # left on the scan deliberately.)
    tok = _blocked_shingles(df, id_col, block_cols, text_col, k_shingle)
    if materialize:
        tok = tok.localCheckpoint(eager=True)
    dfreq = tok.groupBy("_block", "_sh").agg(
        F.count(F.lit(1)).alias("_df")
    )
    sizes = (
        tok.groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumnRenamed("_id", "_sid")
    )
    ranked = (
        tok.join(dfreq, ["_block", "_sh"])
        .join(sizes, F.col("_id") == F.col("_sid"))
        .select("_id", "_block", "_sh", "_df", "_n")
    )
    # 1e-9 slack INSIDE the ceil: when t·n is mathematically an
    # integer m but the double product rounds to m+ε (e.g. t=0.68,
    # n=75 → 51.000000000000007), a bare ceil returns m+1 and the
    # prefix is one slot too short — a pair sitting exactly at the
    # threshold could be silently dropped.  Subtracting a slack far
    # larger than the product's ulp (~1e-10 at n≈1e6) but far smaller
    # than any true fractional part restores ceil = m; for non-integer
    # t·n it can only lengthen the prefix by one (completeness-safe,
    # mirroring the positional filter's slack below).
    plen = (
        F.col("_n")
        - F.ceil(F.lit(min_jaccard) * F.col("_n") - F.lit(1e-9))
        + 1
    )
    w = Window.partitionBy("_block", "_id").orderBy("_df", "_sh")
    pref = (
        ranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= plen)
        .select("_block", "_sh", "_id", "_n", "_rn")
    )
    # Positional filter (the PPJoin refinement over AllPairs): a
    # shared prefix shingle at rarity ranks (i, j) bounds the whole
    # intersection.  The rank order is the SAME total order in every
    # document, so any other common shingle v splits cleanly around
    # the shared one w: v < w sits below rank i in a AND below j in b
    # (≤ min(i−1, j−1) of those); v > w sits above both (≤
    # min(n_a−i, n_b−j)).  Hence o ≤ min(i−1,j−1) + 1 + min(n_a−i,
    # n_b−j) — valid for EVERY shared prefix shingle, so the pair's
    # tightest bound is the MIN over its shared prefix shingles, and a
    # pair is pruned only when even that optimistic overlap cannot
    # reach J ≥ t, i.e. (1+t)·bound < t·(n_a+n_b) (exact integer/
    # rational comparison — no recall loss; the brute-force
    # equivalence pytest and the naive-scan oracle both pin it).
    pa = pref.select(
        "_block", "_sh",
        F.col("_id").alias("id_a"), F.col("_n").alias("_n_a"),
        F.col("_rn").alias("_i"),
    )
    pb = pref.select(
        "_block", "_sh",
        F.col("_id").alias("id_b"), F.col("_n").alias("_n_b"),
        F.col("_rn").alias("_j"),
    )
    bound = (
        F.least(F.col("_i") - 1, F.col("_j") - 1)
        + 1
        + F.least(F.col("_n_a") - F.col("_i"), F.col("_n_b") - F.col("_j"))
    )
    cand = (
        pa.join(pb, ["_block", "_sh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("_block", "id_a", "id_b", "_n_a", "_n_b")
        .agg(F.min(bound).alias("_ub"))
        .filter(
            (1.0 + min_jaccard) * F.col("_ub")
            # 1e-9 slack: prune only when CLEARLY below the overlap
            # requirement, so a float-rounded exact-equality boundary
            # can never cost a pair (completeness over tightness).
            >= min_jaccard * (F.col("_n_a") + F.col("_n_b")) - 1e-9
        )
        .select("_block", "id_a", "id_b", "_n_a", "_n_b")
    )
    result = (
        _candidate_overlap(cand, tok, tok, "id_a", "id_b", keys=["_block"])
        .select(
            "id_a",
            "id_b",
            F.col("_inter").alias("n_common"),
            F.col("_n_a").alias("n_a"),
            F.col("_n_b").alias("n_b"),
            _jaccard(F.col("_inter"), F.col("_n_a"), F.col("_n_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    if not materialize:
        return result
    final = result.localCheckpoint(eager=True)
    tok.unpersist()
    return final


def simhash_table(
    df: DataFrame, id_col: str, text_col: str = "text", bits: int = 64
) -> DataFrame:
    """SimHash per row via the scale-friendly explode shape: one narrow
    (id, token-hash) relation, ``bits`` codegen'd bit-extract columns,
    a partial-aggregating sum per document, then bit reassembly.

    The majority vote is computed over raw BIT sums, not ±1 signs:
    sign-sum = 2·bit-sum − n, so "sign-sum > 0" ⇔ "2·bit-sum > n" —
    half the per-row expression work (no when/otherwise null guard, no
    ±1 arithmetic) and one extra ``count`` column in the aggregate.
    Documents with no tokens get signature 0, restored by a left join
    of the id spine (inner explode drops them from the vote relation).
    Counter packing: the per-bit sums are packed 3-to-a-long (21-bit
    fields), so the aggregate carries 22 sum buffers instead of 64 —
    the whole-stage-codegen source shrinks ~3×, which cuts the one-off
    janino compile tax (the dominant cold-start cost of this operator)
    without changing a single output bit.  Packed adds never carry
    across fields while every per-document token count stays below
    2²¹ (≈ 2M tokens ≈ 10 MB of text — far beyond any sane document;
    a ``raise_error`` guard on the per-doc count is folded into the
    signature expression so a violation is a loud error, never a
    silent wrong vote).
    Output: (id_col, simhash64)."""
    field = 21  # bits per packed counter; 3 per long
    group = 3
    # (r15 note: a fan_out_small_scan of the doc rows was A/B-measured
    # here — interleaved, 3 pairs — and came out a wash: the per-token
    # md5 + packed-vote stage is too cheap for the extra exchange to
    # pay, unlike the minhash signature stage.  Left on the one-split
    # scan deliberately.)
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok")
    )
    # md5-derived token hash (functions/text.md5_hash64), NOT xxhash64:
    # same sketch quality, but reproducible in DuckDB, so the whole
    # fingerprint (and the Hamming pair set built on it) is
    # value-checked by the driver's oracle gate.
    h = md5_hash64("_tok")
    packed_cols = []
    for c in range((bits + group - 1) // group):
        js = range(c * group, min((c + 1) * group, bits))
        col = F.lit(0).cast("long")
        for g, j in enumerate(js):
            col = col + F.shiftleft(
                F.shiftright(h, j).bitwiseAND(F.lit(1)), g * field
            )
        packed_cols.append(col.alias(f"_p{c}"))
    votes = toks.select(id_col, *packed_cols).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"_p{c}").alias(f"_s{c}") for c in range(len(packed_cols))],
    )
    mask = F.lit((1 << field) - 1)
    # Overflow guard folded INTO the signature expression (a dropped
    # guard column would be pruned by Catalyst and never evaluated):
    # contributes 0 below the bound, raises above it.
    sig = F.when(
        F.col("_n") >= F.lit(1 << field),
        F.raise_error(
            F.lit(
                "simhash_table: document exceeds 2^21 tokens; packed "
                "vote counters would overflow"
            )
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    for j in range(bits):
        c, g = divmod(j, group)
        vote_j = F.shiftright(F.col(f"_s{c}"), g * field).bitwiseAND(mask)
        bit_j = (1 << j) if j < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(vote_j * 2 > F.col("_n"), F.lit(bit_j)).otherwise(F.lit(0))
        )
    signatures = votes.select(F.col(id_col), sig.alias("simhash64"))
    spine = df.select(F.col(id_col))
    return spine.join(signatures, id_col, "left").select(
        F.col(id_col), F.coalesce("simhash64", F.lit(0).cast("long")).alias("simhash64")
    )


# ---------------------------------------------------------------------------
# SimHash (expression form — interpreted HOF path; prefer simhash_table
# for bulk scoring)
# ---------------------------------------------------------------------------


def simhash(text_col: Column | str, bits: int = 64) -> Column:
    """64-bit SimHash over whitespace tokens — per-bit majority vote of
    token hashes, folded entirely inside Catalyst aggregate/zip_with
    (no explode: one pass over the token array per document).

    Bit positions are Python-loop-unrolled into literal shift amounts
    (``shiftright`` requires a literal count); 64 fused expressions is
    well within codegen limits.
    """
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(t)
    zero = F.array_repeat(F.lit(0), bits)

    def tok_bits(tok: Column) -> Column:
        h = md5_hash64(tok)  # same hash as simhash_table — the two forms must agree
        return F.array(
            *[
                F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
                for j in range(bits)
            ]
        )

    votes = F.aggregate(
        toks,
        zero,
        lambda acc, tok: F.zip_with(acc, tok_bits(tok), lambda a, v: a + v),
    )
    sig = F.lit(0).cast("long")
    for j in range(bits):
        # 1<<63 wraps to Long.MIN_VALUE — the sign bit, intentionally.
        bit_j = (1 << j) if j < 63 else -(1 << 63)
        sig = sig.bitwiseOR(
            F.when(F.element_at(votes, j + 1) > 0, F.lit(bit_j)).otherwise(F.lit(0))
        )
    return sig


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int = 256,
    materialize: bool = True,
) -> DataFrame:
    """Near-dup pairs via SimHash Hamming banding: (id_a, id_b,
    hamming) with id_a < id_b and popcount(sig_a XOR sig_b) ≤
    ``max_hamming``.  ``materialize=False`` returns the LAZY relation
    (plan inspection / composition); the caller then owns cache
    release — same contract as semdedup_assignments.

    The 64-bit signature splits into disjoint bands; by pigeonhole, a
    pair within Hamming distance d agrees exactly on at least one band
    only when there are **at least d+1 bands**, so the band count is
    DERIVED from ``max_hamming`` (smallest power-of-two divisor of 64
    ≥ max_hamming+1 — the default 3 gives the classic 4×16-bit
    split).  Hardcoding 4 bands would silently lose recall for any
    caller passing max_hamming ≥ 4: four differing bits can land one
    per band and never collide.  Bucketing on (band, band-bits) finds
    every qualifying pair while only ever comparing within buckets —
    the same banded shape as MinHash-LSH, with the same two-pass
    census gate dropping degenerate buckets before member lists
    materialize.  Verification is a single codegen'd
    ``bit_count(xor)`` per candidate — no text access at all, so the
    verify stage moves 16 bytes per doc regardless of document size.
    ``simhash_table`` (1 row/doc) is persisted: it feeds the banding
    and both sides of the verify join.
    """
    sig = simhash_table(df, id_col, text_col)
    return hamming64_band_pairs(
        sig,
        id_col,
        sig_col="simhash64",
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
        materialize=materialize,
    )


def hamming64_band_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str = "simhash64",
    max_hamming: int = 3,
    max_bucket_size: int = 256,
    materialize: bool = True,
) -> DataFrame:
    """The banded-Hamming pair core shared by :func:`simhash_near_dup_pairs`
    (text) and the image aHash near-dup query: signature-AGNOSTIC over
    any 64-bit ``sig_col`` (SimHash, aHash hi‖lo, any future packed
    fingerprint).  Semantics, band derivation, census gate, and the
    16-bytes-per-doc verify join are exactly as documented on the
    SimHash operator; band extraction masks after the arithmetic
    shiftright, so negative longs (bit 63 set) band correctly."""
    if not 0 <= max_hamming <= 31:
        raise ValueError(
            "max_hamming must be in [0, 31] (recall needs max_hamming+1 "
            "bands; beyond 32 the bands stop carrying signal)"
        )
    bands = next(b for b in (1, 2, 4, 8, 16, 32) if b >= max_hamming + 1)
    width = 64 // bands
    sig = sig.select(F.col(id_col), F.col(sig_col).alias("simhash64")).persist()
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright(F.col("simhash64"), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_bits"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*band_structs)).alias("band")
    ).select("_id", "band.band_id", "band.band_bits")

    pairs = _capped_bucket_pairs(
        banded, ["band_id", "band_bits"], max_bucket_size
    )
    sig_a = sig.select(F.col(id_col).alias("id_a"), F.col("simhash64").alias("_sa"))
    sig_b = sig.select(F.col(id_col).alias("id_b"), F.col("simhash64").alias("_sb"))
    result = (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # Release the persisted signature table (r6 advisory): one
    # checkpointed census-bounded pair result, no leaked blocks.
    if not materialize:
        return result
    final = result.localCheckpoint(eager=True)
    sig.unpersist()
    return final


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "_id",
    max_iter: int = 25,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Connected components over a (sparse) pair graph by min-label
    propagation: output (node_col, component) where component is the
    smallest node id reachable from the node.  The dedup completion
    step — near-dup PAIRS only say "these two match"; keeping one doc
    per duplicate GROUP needs the transitive closure.

    Implementation is the iterative Spark pattern: labels start as the
    node's own id; each round joins labels across (symmetrized,
    persisted) edges and takes the min of (own, neighbors); stop when
    a round changes nothing.  Rounds needed = graph diameter — for
    dedup graphs that's tiny (duplicate clusters are dense blobs), and
    each round is one shuffle join on the node id.  At extreme scale
    prefer :func:`connected_components_star` — the alternating
    large-star/small-star contraction converges in O(log²·) rounds on
    deep graphs; this loop is the simpler choice for the shallow,
    blob-shaped graphs dedup actually produces.

    Long-run hygiene (each round in a driver loop otherwise leaks):
    the superseded labels frame is **unpersisted** the moment its
    successor is materialized, the lineage (one join deeper per round)
    is truncated with ``localCheckpoint`` every ``checkpoint_every``
    rounds, and the final labels are checkpointed so the symmetrized
    edge cache can be released before returning — at no point do more
    than two label snapshots plus the edge relation occupy cache.

    **Convergence is verified, never assumed**: if the graph diameter
    exceeds ``max_iter`` (e.g. a long chain of pairwise near-dups) the
    labels would be silently wrong — one true component split into
    several — so hitting ``max_iter`` with changes still flowing raises
    ``RuntimeError`` instead of returning truncated labels.
    """
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    fast = _cc_local_or_none(edges, nodes, id_a, id_b, node_col, max_iter)
    if fast is not None:
        return fast

    # Distributed loop, restructured for the 100 TB path (guide
    # §2.2/§2.4, VERDICT r14 item 3).  Three changes vs the classic
    # per-round shape, all value-identical:
    #
    # * ONE join + ONE partial-agg groupBy per round instead of
    #   join + groupBy + left-join: the spine-restricted symmetric
    #   edge set is augmented with a SELF-LOOP per spine node, so
    #   ``min over (own ∪ neighbors)`` is a single aggregation and the
    #   evolving labels relation is referenced ONCE per round (which
    #   is what lets rounds chain lazily at all).
    # * rounds chain LAZILY and materialize once per
    #   ``checkpoint_every`` block — one driver-blocking job per k
    #   rounds instead of a persist + changed-count action per round.
    # * the changed-check runs once per block.  Min-label propagation
    #   is MONOTONE (labels only decrease), so "no change across a
    #   whole block" ⟺ "the block's first round already changed
    #   nothing" — block-level equality detects exactly the same
    #   convergence the per-round check did, and extra lazy rounds
    #   past the fixpoint are no-ops that cannot alter the output.
    #   The non-convergence CONTRACT is preserved exactly: converged
    #   within max_iter ⟺ labels after max_iter-1 rounds equal labels
    #   after max_iter rounds (monotonicity again), which the final
    #   single-round step checks verbatim.
    #
    # Symmetrize with ONE pass over the (typically expensive) edge
    # pipeline: explode each row into both directions (a
    # union(select, swapped-select) would execute the un-materialized
    # pipeline twice).  Propagation only ever flows between LABELED
    # nodes (the old left-join semantics), so the edge set is
    # spine-restricted up front — at 100 TB this also shrinks every
    # round's shuffle to the spine's neighborhood.
    spine = (
        nodes.select(F.col(node_col).alias("_n"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("_src"), F.col(id_b).alias("_dst")),
                F.struct(F.col(id_b).alias("_src"), F.col(id_a).alias("_dst")),
            )
        ).alias("_e")
    ).select("_e._src", "_e._dst")
    e = (
        sym.join(spine.select(F.col("_n").alias("_src")), "_src")
        .join(spine.select(F.col("_n").alias("_dst")), "_dst")
        .select("_src", "_dst")
        .union(spine.select(F.col("_n").alias("_src"), F.col("_n").alias("_dst")))
        .distinct()
        .localCheckpoint(eager=True)  # materialize once, before the loop
    )

    def one_round(lab: DataFrame) -> DataFrame:
        return (
            e.join(lab, e["_src"] == lab["_n"])
            .groupBy("_dst")
            .agg(F.min("_lbl").alias("_lbl"))
            .select(F.col("_dst").alias("_n"), "_lbl")
        )

    labels = spine.select("_n", F.col("_n").alias("_lbl")).localCheckpoint(
        eager=True
    )

    def block_changed(new: DataFrame, old: DataFrame) -> int:
        return (
            new.alias("new")
            .join(old.alias("old"), "_n")
            .filter(F.col("new._lbl") != F.col("old._lbl"))
            .limit(1)
            .count()
        )

    if max_iter < 1:
        # the per-round loop never ran and `changed` stayed truthy —
        # preserve that degenerate contract exactly
        e.unpersist()
        spine.unpersist()
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (graph diameter exceeds the round budget); raise "
            "max_iter or use connected_components_star for deep graphs"
        )
    converged = False
    rounds_done = 0
    while rounds_done < max_iter - 1:
        step = min(checkpoint_every, max_iter - 1 - rounds_done)
        nxt = labels
        for _ in range(step):
            nxt = one_round(nxt)
        nxt = nxt.localCheckpoint(eager=True)
        rounds_done += step
        changed = block_changed(nxt, labels)
        labels.unpersist()
        labels = nxt
        if changed == 0:
            converged = True
            break
    if not converged:
        # final round: labels_{max_iter-1} vs labels_{max_iter} is the
        # exact converged-within-max_iter predicate
        nxt = one_round(labels).localCheckpoint(eager=True)
        changed = block_changed(nxt, labels)
        labels.unpersist()
        labels = nxt
        if changed != 0:
            e.unpersist()
            spine.unpersist()
            labels.unpersist()
            raise RuntimeError(
                f"connected_components did not converge in max_iter={max_iter} "
                "rounds (graph diameter exceeds the round budget); raise "
                "max_iter or use connected_components_star for deep graphs"
            )
    # Re-attach to the ORIGINAL node relation (multiplicity and NULL
    # ids preserved — one output row per input node row, NULL-id rows
    # keeping their own (NULL) label, exactly like the old left join).
    final = (
        nodes.select(F.col(node_col).alias("_n"))
        .join(labels.select("_n", F.col("_lbl").alias("_cmp")), "_n", "left")
        .select(
            "_n",
            F.coalesce(F.col("_cmp"), F.col("_n")).alias("_lbl"),
        )
        .localCheckpoint(eager=True)
    )
    labels.unpersist()
    e.unpersist()
    spine.unpersist()
    return final.select(F.col("_n").alias(node_col), F.col("_lbl").alias("component"))


def _collect_graph(edges, nodes, id_a, id_b, node_col):
    """Edge and node id arrays ``(ea, eb, nn)`` for the graph twins
    (node multiplicity kept: the output carries one row per input node
    row, exactly like the join pipeline), or None when
    :func:`collect_ids` declines either relation."""
    e = collect_ids(edges, id_a, id_b)
    n = collect_ids(nodes, node_col) if e is not None else None
    return None if n is None else (*e, *n)


def _cc_local_or_none(edges, nodes, id_a, id_b, node_col, max_iter):
    """Gated driver-side twin of :func:`connected_components`'s
    min-label-propagation loop (guide §2.4): the per-round
    [edge join + groupBy-min + left join + changed-count] plan —
    ~4 driver-blocking jobs per round, rounds = diameter — runs as
    vectorized ``np.minimum.at`` sweeps over the collected pair
    relation.  The ROUND SEMANTICS are simulated exactly (labels only
    propagate across direct edges BETWEEN labeled nodes, simultaneous
    update per round, converged-or-RuntimeError after ``max_iter``),
    so outputs — including the non-convergence contract — are
    value-identical.  Above the collect ceiling the join loop runs
    verbatim (the 100 TB path)."""
    import numpy as np
    import pyarrow as pa

    got = _collect_graph(edges, nodes, id_a, id_b, node_col)
    if got is None:
        return None
    ea, eb, nn = got
    uniq = np.unique(nn)
    # Symmetrized direct edges between LABELED nodes only — the join
    # loop's propagation surface.
    s = np.concatenate([ea, eb])
    d = np.concatenate([eb, ea])
    m = np.isin(s, uniq) & np.isin(d, uniq)
    s, d = s[m], d[m]
    si = np.searchsorted(uniq, s)
    di = np.searchsorted(uniq, d)
    labels = uniq.copy()
    changed = True
    for _ in range(max_iter):
        nbl = np.full(len(uniq), np.iinfo(np.int64).max)
        if len(si):
            np.minimum.at(nbl, di, labels[si])
        new = np.minimum(labels, nbl)
        changed = bool((new != labels).any())
        labels = new
        if not changed:
            break
    if changed:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (graph diameter exceeds the round budget); raise "
            "max_iter or use connected_components_star for deep graphs"
        )
    comp = labels[np.searchsorted(uniq, nn)]
    out = pa.table(
        {
            node_col: pa.array(nn, type=pa.int64()),
            "component": pa.array(comp, type=pa.int64()),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def _cc_star_local_or_none(edges, nodes, id_a, id_b, node_col, max_iter):
    """Gated driver-side twin of :func:`connected_components_star`:
    the alternating large-star/small-star edge-set contraction is
    simulated round for round with packed-pair set algebra (each
    Spark round is 2 eager checkpoints + 2 exceptAll convergence
    probes — ~6 driver-blocking jobs), including the
    converged-or-RuntimeError contract and the final
    left-join/coalesce labeling.  Edge rewrites are integer set ops —
    no float enters — so the fixpoint is value-identical."""
    import numpy as np
    import pyarrow as pa

    got = _collect_graph(edges, nodes, id_a, id_b, node_col)
    if got is None:
        return None
    ea, eb, nn = got
    m = ea != eb
    cur = np.unique(_pack_pairs(ea[m], eb[m]))

    def unpack(p):
        return (p >> 32).astype(np.int64), (p & 0xFFFFFFFF).astype(np.int64)

    def mins_for(u, v):
        # min neighbor per distinct u (dense over the sorted uniques)
        uu = np.unique(u)
        mn = np.full(len(uu), np.iinfo(np.int64).max)
        np.minimum.at(mn, np.searchsorted(uu, u), v)
        return uu, mn

    def large_star(p):
        u, v = unpack(p)
        sym = np.unique(np.concatenate([p, _pack_pairs(v, u)]))
        su, sv = unpack(sym)
        uu, mn = mins_for(su, sv)
        keep = sv > su
        ku, kv = su[keep], sv[keep]
        m_of = mn[np.searchsorted(uu, ku)]
        return np.unique(_pack_pairs(kv, np.minimum(ku, m_of)))

    def small_star(p):
        u, v = unpack(p)
        ou = np.maximum(u, v)
        ov = np.minimum(u, v)
        op = np.unique(_pack_pairs(ou, ov))
        su, sv = unpack(op)
        uu, mn = mins_for(su, sv)
        m_of = mn[np.searchsorted(uu, su)]
        nbrs = _pack_pairs(sv, m_of)
        selfe = np.unique(_pack_pairs(su, m_of))
        allp = np.unique(np.concatenate([nbrs, selfe]))
        au, av = unpack(allp)
        return allp[au != av]

    converged = False
    for _ in range(max_iter):
        nxt = small_star(large_star(cur))
        if len(nxt) == len(cur) and np.array_equal(nxt, cur):
            converged = True
            break
        cur = nxt
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    su, sv = unpack(cur)
    # stars: node -> component min; roots/isolated label themselves
    pos = np.searchsorted(su, nn)
    np.clip(pos, 0, max(len(su) - 1, 0), out=pos)
    hit = (su[pos] == nn) if len(su) else np.zeros(len(nn), bool)
    comp = np.where(hit, sv[pos] if len(sv) else 0, nn)
    out = pa.table(
        {
            node_col: pa.array(nn, type=pa.int64()),
            "component": pa.array(comp, type=pa.int64()),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by the alternating **large-star /
    small-star** contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond") — the 100 TB path for DEEP graphs, where
    min-label propagation's rounds-=-diameter cost is unacceptable.

    Each round rewrites the edge set with two join+agg passes:

    * **large-star(u)**: every neighbor LARGER than u re-attaches to
      the minimum of u's neighborhood ∪ {u} — long tails fold onto
      small labels in one hop;
    * **small-star(u)** (edges oriented high→low): every smaller
      neighbor, and u itself, attach to the neighborhood minimum.

    Both passes strictly contract toward the component minimum and the
    fixpoint is the star graph (every node → its component's min
    node), reached in O(log² n) rounds regardless of diameter — a
    10⁶-long chain converges in ~20 rounds where label propagation
    needs 10⁶.  Per round: two groupBy-min shuffles and two joins over
    the CURRENT edge set, which only shrinks.  No per-node member
    lists ever materialize (pure join/agg — no collect_set), so one
    mega-component cannot OOM a task.

    Same hygiene contract as :func:`connected_components` — superseded
    edge frames released as soon as the successor is materialized,
    converged-or-raise (never silent truncation) — with one sharper
    rule: lineage is cut with ``localCheckpoint`` **every** round,
    because each star round references the previous edge set ~10×
    (two symmetrize/orient unions, two join+agg passes), so an
    uncheckpointed logical plan grows ~10^rounds and OOMs the driver
    before any data moves.  One eager materialization per round IS the
    algorithm's cost model (GraphX/GraphFrames checkpoint the same
    way).
    """
    fast = _cc_star_local_or_none(
        edges, nodes, id_a, id_b, node_col, max_iter
    )
    if fast is not None:
        return fast

    def large_star(e: DataFrame) -> DataFrame:
        # e is always checkpointed here, so the double read is from
        # cached blocks — but one explode pass is still cheaper.
        sym = (
            e.select(
                F.explode(
                    F.array(
                        F.struct(F.col("u"), F.col("v")),
                        F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                    )
                ).alias("_e")
            )
            .select("_e.u", "_e.v")
            .distinct()
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        # m = min(N(u) ∪ {u}); attach strictly-larger neighbors to it.
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least(F.col("u"), F.col("_mn")).alias("v"),
            )
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        orient = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = orient.groupBy("u").agg(F.min("v").alias("_mn"))
        withm = orient.join(mins, "u")
        nbrs = withm.select(F.col("v").alias("u"), F.col("_mn").alias("v"))
        selfe = withm.select("u", F.col("_mn").alias("v")).distinct()
        return nbrs.union(selfe).filter(F.col("u") != F.col("v")).distinct()

    e = (
        edges.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # Eager: the input pipeline runs exactly once; every round-0
        # consumer (large_star reads it twice) hits checkpoint blocks.
        .localCheckpoint(eager=True)
    )
    converged = False
    for it in range(max_iter):
        e2 = small_star(large_star(e)).localCheckpoint(eager=True)
        # Exact set equality (edge rows are distinct by construction).
        stable = (
            e2.exceptAll(e).limit(1).count() == 0
            and e.exceptAll(e2).limit(1).count() == 0
        )
        e.unpersist()
        e = e2
        if stable:
            converged = True
            break
    if not converged:
        e.unpersist()
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # Fixpoint is a star graph: (node → component min); roots and
    # isolated nodes label themselves via the left join.
    stars = e.select(F.col("u").alias("_n"), F.col("v").alias("_lbl"))
    out = (
        nodes.select(F.col(node_col).alias("_n"))
        .join(stars, "_n", "left")
        .select(
            F.col("_n").alias(node_col),
            F.coalesce("_lbl", F.col("_n")).alias("component"),
        )
        .localCheckpoint(eager=True)
    )
    e.unpersist()
    return out


def _sym_unique(ea, eb):
    """Symmetrized distinct directed edge arrays (the explode+distinct
    result), sorted by src."""
    import numpy as np

    p = np.unique(
        np.concatenate([_pack_pairs(ea, eb), _pack_pairs(eb, ea)])
    )
    return (p >> 32).astype(np.int64), (p & 0xFFFFFFFF).astype(np.int64)


def _csr_of(src_sorted, dst):
    import numpy as np

    keys, starts = np.unique(src_sorted, return_index=True)
    return keys, np.append(starts, len(src_sorted)), dst


def _kcore_local_or_none(edges, k, id_a, id_b, rounds):
    """Gated driver-side twin of :func:`kcore`'s fixed-round peel —
    integer degree census + dead-set drop per round, value-identical
    (all-integer; one eager Spark job per round becomes one numpy
    sweep)."""
    import numpy as np
    import pyarrow as pa

    got = collect_ids(edges, id_a, id_b)
    if got is None:
        return None
    ea, eb = got
    su, sv = _sym_unique(ea, eb)
    for _ in range(rounds):
        if len(su) == 0:
            break
        uu, cnt = np.unique(su, return_counts=True)
        dead = uu[cnt < k]
        if len(dead) == 0:
            break  # fixed point: remaining rounds are no-ops
        m = ~_isin_sorted(su, dead) & ~_isin_sorted(sv, dead)
        su, sv = su[m], sv[m]
    uu, cnt = np.unique(su, return_counts=True)
    out = pa.table(
        {
            "node": pa.array(uu, type=pa.int64()),
            "core_degree": pa.array(cnt.astype(np.int64), type=pa.int64()),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def _bfs_local_or_none(edges, seeds, id_a, id_b, seed_col, max_hops):
    """Gated driver-side twin of :func:`bfs_hops`' level-synchronous
    frontier loop (same prev-two anti-join semantics, same early
    stop) — integer-exact."""
    import numpy as np
    import pyarrow as pa

    got = collect_ids(edges, id_a, id_b)
    seeds_got = collect_ids(seeds, seed_col) if got is not None else None
    if seeds_got is None:
        return None
    s0 = np.unique(seeds_got[0])
    su, sv = _sym_unique(*got)
    keys, indptr, dst = _csr_of(su, sv)
    out_n = [s0]
    out_h = [np.zeros(len(s0), dtype=np.int32)]
    prev2 = None
    frontier = s0
    for h in range(1, max_hops + 1):
        _, vals, _ = _csr_gather(keys, indptr, dst, frontier)
        nxt = np.unique(vals)
        nxt = nxt[~_isin_sorted(nxt, frontier)]
        if prev2 is not None:
            nxt = nxt[~_isin_sorted(nxt, prev2)]
        if len(nxt) == 0:
            break
        out_n.append(nxt)
        out_h.append(np.full(len(nxt), h, dtype=np.int32))
        prev2, frontier = frontier, nxt
    out = pa.table(
        {
            "_n": pa.array(np.concatenate(out_n), type=pa.int64()),
            "hops": pa.array(np.concatenate(out_h), type=pa.int32()),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def _lpa_local_or_none(edges, nodes, id_a, id_b, node_col, rounds):
    """Gated driver-side twin of :func:`label_propagation`'s
    fixed-round synchronous majority vote (count-desc, label-asc
    tie-break) — integer-exact."""
    import numpy as np
    import pyarrow as pa

    got = _collect_graph(edges, nodes, id_a, id_b, node_col)
    if got is None:
        return None
    ea, eb, nn = got
    uniq = np.unique(nn)
    if len(uniq) != len(nn):
        return None  # duplicate spine rows duplicate votes: fall back
    su, sv = _sym_unique(ea, eb)
    # votes flow dst-label -> src; both endpoints must be labeled
    # (inner join on _dst, left join back on _src restricted to spine)
    m = _isin_sorted(sv, uniq) & _isin_sorted(su, uniq)
    vs, vd = su[m], sv[m]
    vd_idx = np.searchsorted(uniq, vd)
    vs_idx = np.searchsorted(uniq, vs)
    lab = uniq.copy()
    for _ in range(rounds):
        votes = _pack_pairs(vs_idx, np.searchsorted(uniq, lab[vd_idx]))
        pv, cnt = np.unique(votes, return_counts=True)
        p_src = (pv >> 32).astype(np.int64)
        p_lab = uniq[(pv & 0xFFFFFFFF).astype(np.int64)]
        # winner per src: max count, then min label
        o = np.lexsort((p_lab, -cnt, p_src))
        ps = p_src[o]
        starts = np.r_[0, np.flatnonzero(np.diff(ps)) + 1]
        w_src = ps[starts]
        w_lab = p_lab[o][starts]
        new = uniq.copy()
        new[w_src] = w_lab
        lab = new
    comp = lab[np.searchsorted(uniq, nn)]
    out = pa.table(
        {
            node_col: pa.array(nn, type=pa.int64()),
            "community": pa.array(comp, type=pa.int64()),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def _triangles_local_or_none(edges, id_a, id_b):
    """Gated driver-side twin of :func:`triangle_counts`'s
    edge-iterator enumeration (a<b<c wedges closed against the edge
    set) — integer-exact."""
    import numpy as np
    import pyarrow as pa

    got = collect_ids(edges, id_a, id_b)
    if got is None:
        return None
    ea, eb = got
    m = ea < eb
    p = np.unique(_pack_pairs(ea[m], eb[m]))
    a = (p >> 32).astype(np.int64)
    b = (p & 0xFFFFFFFF).astype(np.int64)
    packed_set = p  # sorted
    # wedges: per edge (a, b), every c in N_out(b)
    keys, starts = np.unique(a, return_index=True)
    indptr = np.append(starts, len(a))
    ownW, c_arr, _ = _csr_gather(keys, indptr, b, b)
    wa = a[ownW]
    wb = b[ownW]
    closed = _isin_sorted(_pack_pairs(wa, c_arr), packed_set)
    ta, tb, tc = wa[closed], wb[closed], c_arr[closed]
    nodes_all = np.concatenate([ta, tb, tc])
    uu, cnt = np.unique(nodes_all, return_counts=True)
    out = pa.table(
        {
            "node": pa.array(uu, type=pa.int64()),
            "n_triangles": pa.array(cnt.astype(np.int64), type=pa.int64()),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    seed_col: str = "_id",
    max_hops: int = 6,
) -> DataFrame:
    """Bounded multi-source BFS over a pair graph: (node, hops) for
    every node within ``max_hops`` of ANY seed, hops = exact shortest
    distance (integer — fully deterministic cross-engine, unlike
    PageRank-style float propagation).

    The iterative-graph companion to :func:`connected_components`:
    CC answers "which cluster", BFS answers "how far from a trusted
    node" — the shape behind contamination-radius audits (how many
    hops from a known benchmark doc do near-dup edges reach?) and
    seed-expansion labeling.

    Level-synchronous frontier expansion: round h joins ONLY the
    frontier discovered at h-1 (not the whole visited set) against the
    symmetrized edge list, and stops early the first round the
    frontier empties.  The visited check exploits undirectedness:
    a neighbor of a distance-(h-1) node can only sit at distance h-2,
    h-1, or h, so anti-joining against just the PREVIOUS TWO frontiers
    (not the whole visited set) suffices — per-round work stays
    O(edges incident to the frontier) with CONSTANT-size anti-join
    sides, instead of re-materializing an ever-growing visited union
    every round (measured 9.5 s → ~edge-pipeline cost at sf0.1; a
    directed graph would need the full visited set back).  Frontiers
    are localCheckpoint'ed eagerly (each is read by the next round's
    expansion, the round-after-next's anti-join, and the final union);
    the edge relation is checkpointed once before the loop.  The bound
    ``max_hops`` caps rounds, not correctness (every emitted hop count
    is exact; nodes further than the cap are simply absent, which is
    the point of a radius audit).
    """
    fast = _bfs_local_or_none(edges, seeds, id_a, id_b, seed_col, max_hops)
    if fast is not None:
        return fast
    e = _symmetrize_edges(edges, id_a, id_b)
    frontier = (
        seeds.select(F.col(seed_col).alias("_n"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontiers = [frontier]
    prev2: DataFrame | None = None
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["_n"] == e["_src"])
            .select(F.col("_dst").alias("_n"))
            .distinct()
            .join(frontier.select("_n"), "_n", "left_anti")
        )
        if prev2 is not None:
            nxt = nxt.join(prev2.select("_n"), "_n", "left_anti")
        nxt = nxt.withColumn("hops", F.lit(h)).localCheckpoint(eager=True)
        if nxt.limit(1).count() == 0:
            break
        frontiers.append(nxt)
        prev2, frontier = frontier, nxt
    out = frontiers[0]
    for f in frontiers[1:]:
        out = out.unionAll(f)
    return out.select(F.col("_n"), F.col("hops"))


def fuzzy_levenshtein_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Fuzzy (edit-distance) self-join over an attribute DOMAIN:
    (name_a, name_b, dist) with name_a < name_b and
    levenshtein ≤ ``max_dist``.

    Entity-resolution practice, encoded in the plan:

    1. **Dedupe the domain first** — the join runs over DISTINCT
       values, so a column with n rows but d ≪ n distinct values costs
       O(d²-ish), never O(n²) (64 distinct part names among 2 000 rows
       here; catalog attributes at 100 TB behave the same way).  Rows
       map back to matched values with an ordinary equi-join afterward.
    2. **Length banding turns the inequality into an equi-join** —
       levenshtein(a, b) ≥ |len(a) − len(b)|, so only pairs within
       ``max_dist`` length of each other can qualify.  The probe side
       explodes into its 2·max_dist+1 surrounding length buckets and
       hash-joins on exact length; each qualifying pair meets in
       exactly one bucket (b's single length matches one exploded
       value of a), so no post-dedup is needed.  Catalyst keeps a
       shuffled/broadcast HASH join — never a nested-loop scan.
    3. The exact ``levenshtein`` filter runs only on banded
       candidates; both engines implement classic unit-cost edit
       distance, so the value is oracle-exact.
    """
    names = (
        df.select(F.col(name_col).alias("_name"))
        .where(F.col("_name").isNotNull())
        .distinct()
        .withColumn("_len", F.length("_name"))
    )
    probe = names.select(
        F.col("_name").alias("name_a"),
        F.explode(
            F.array(
                *[F.col("_len") + F.lit(i) for i in range(-max_dist, max_dist + 1)]
            )
        ).alias("_jl"),
    )
    build = names.select(F.col("_name").alias("name_b"), F.col("_len").alias("_lb"))
    return (
        probe.join(build, probe["_jl"] == build["_lb"])
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", "dist")
    )


def triangle_counts(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    materialize: bool = True,
) -> DataFrame:
    """Per-node triangle participation counts over an undirected pair
    graph given as ordered edges (``id_a < id_b``): (node,
    n_triangles), nodes in ≥ 1 triangle only.

    The third graph primitive after components (bfs_hops /
    connected_components): triangle density distinguishes true
    duplicate BLOBS (near-cliques — safe to collapse to one doc) from
    CHAINS of pairwise-similar drift (A~B~C where A~C fails — exactly
    the case keep-one-per-component over-merges).  Auditing the
    triangle rate per component is the standard check before trusting
    transitive-closure dedup.

    Edge-iterator enumeration as two hash joins: wedges (a<b<c from
    e1=(a,b) ⋈ e2=(b,c)) are closed against the edge set itself
    (e3=(a,c)).  Every triangle is found exactly once because all
    three edges are id-ordered.  At 100 TB scale the join shape is
    unchanged but the ORIENTATION should be by degree, not id
    (orient each edge low-degree→high-degree; wedge work then bounds
    at O(E^1.5) regardless of hubs — id orientation can make one hub
    node generate O(deg²) wedges).  The dedup graphs this audits are
    census-capped upstream (max_bucket_size), which bounds degree and
    makes id-orientation safe here; the degree-oriented variant is a
    pre-sort away if an uncapped graph ever feeds it.
    """
    if materialize:
        fast = _triangles_local_or_none(edges, id_a, id_b)
        if fast is not None:
            return fast
    e = (
        edges.select(F.col(id_a).alias("_a"), F.col(id_b).alias("_b"))
        .filter(F.col("_a") < F.col("_b"))
        .distinct()
        .persist()
    )
    e2 = e.select(F.col("_a").alias("_b2"), F.col("_b").alias("_c"))
    e3 = e.select(F.col("_a").alias("_a3"), F.col("_b").alias("_c3"))
    tris = (
        e.join(e2, F.col("_b") == F.col("_b2"))
        .join(
            e3,
            (F.col("_a") == F.col("_a3")) & (F.col("_c") == F.col("_c3")),
        )
        .select("_a", "_b", "_c")
    )
    result = (
        tris.select(F.explode(F.array("_a", "_b", "_c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    # Release the persisted edge relation (r6 advisory): the per-node
    # census is tiny; one checkpoint block replaces the leaked persist.
    # ``materialize=False`` keeps the lazy wedge-join plan inspectable
    # (the no-cartesian plan test reads it) and composable; the caller
    # then owns cache release — same contract as semdedup_assignments.
    if not materialize:
        return result
    final = result.localCheckpoint(eager=True)
    e.unpersist()
    return final


def delta_corpus_jaccard_pairs(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    text_col: str = "text",
    k_shingle: int = 3,
    min_jaccard: float = 0.05,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup check: for each NEW
    document, every EXISTING corpus document with k-gram Jaccard ≥
    threshold — (delta_id, corpus_id, jaccard).  The production shape
    self-dedup doesn't cover: a daily ingest batch must be screened
    against the full at-rest corpus WITHOUT re-pairing the corpus with
    itself.

    Asymmetry is the whole design:

    * the inverted-index join is delta-shingles × corpus-postings
      only — cost Σ_sh df_delta·df_corpus, never the corpus self-join's
      Σ df², so a 1-in-10⁶ delta costs ~10⁻⁶ of a full re-dedup;
    * the ``max_doc_freq`` stop-shingle cap is computed on the CORPUS
      side alone (at scale those document frequencies are maintained
      statistics, not a per-batch scan).  Both sides drop only the
      shingles the corpus marks OVER-frequent (anti-join against the
      df > cap set) — delta shingles the corpus has never seen are
      KEPT, so a mostly-novel delta document retains its novel mass in
      the denominator and cannot be inflated into a false near-dup
      (inner-joining the delta against the df ≤ cap set would silently
      discard every corpus-unknown shingle and recount sizes without
      them).  Cap status still cannot flap with the day's batch;
    * set sizes are recounted post-cap per side.

    Blocked like :func:`blocked_ngram_jaccard_pairs`; rows present in
    both frames pair with themselves at Jaccard 1, so callers feeding
    overlapping frames should pre-filter ids.
    """
    if min_jaccard <= 0:
        raise ValueError("min_jaccard must be > 0 (zero-overlap pairs never materialize)")

    inter, new_sizes, old_sizes = _shared_key_overlap(
        _blocked_shingles(delta, id_col, block_cols, text_col, k_shingle),
        _blocked_shingles(corpus, id_col, block_cols, text_col, k_shingle),
        ["_block", "_sh"],
        "delta_id",
        "corpus_id",
        max_doc_freq,
    )
    return _jaccard_pairs(
        inter, new_sizes, old_sizes, "delta_id", "corpus_id"
    ).filter(F.col("jaccard") >= min_jaccard)


def substring_window_relation(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 15,
) -> DataFrame:
    """Narrow ``(_id, _pos, _h)`` relation of every full-width
    ``window``-token substring: 1-based start position and the md5 of
    the space-joined window text.  The :func:`shingle_relation` codegen
    idiom (posexplode + null-safe ``get`` + ``concat_ws``, no shuffle,
    no interpreted higher-order functions), except docs shorter than
    ``window`` emit NOTHING — an exact-substring window must be full
    width, there is no whole-doc fallback.  md5 so the downstream
    shuffle moves a fixed-width cross-engine digest, never window
    text.  Shared by :func:`exact_substring_dup_spans` and
    :func:`exact_substring_dedup_corpus`."""
    from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import (
        fan_out_small_scan,
    )

    t = tokens(F.col(text_col))
    # per-window md5 of 15-token text is CPU-heavy and the sf-scale
    # documents scan is one split — fan out first (scale-adaptive
    # no-op on an already-parallel scan).
    toks = (
        fan_out_small_scan(df.select(F.col(id_col).alias("_id"), t.alias("_toks")))
        .filter(F.size("_toks") >= window)
        .select("_id", "_toks", F.posexplode("_toks").alias("_i", "_tok"))
        .filter(F.col("_i") <= F.size("_toks") - window)
    )
    parts = [F.col("_tok")] + [
        F.get(F.col("_toks"), F.col("_i") + j) for j in range(1, window)
    ]
    return toks.select(
        "_id",
        (F.col("_i") + 1).alias("_pos"),  # 1-based, matches SQL oracles
        F.md5(F.concat_ws(" ", *parts)).alias("_h"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): slide a ``window`` of
    consecutive k-gram hashes over each document and keep, per
    window, the MINIMUM hash (rightmost occurrence on ties); the
    distinct selected (hash, position) pairs are the document's
    fingerprint set.  Output: ``(id_col, fingerprint, fp_pos)``,
    positions 1-based.

    Why this exists next to MinHash/SimHash: winnowing gives a LOCAL
    guarantee the sketch families lack — any shared substring of at
    least ``window + k - 1`` tokens between two documents is
    guaranteed to share at least one selected fingerprint, while only
    ~2/(window+1) of all k-gram hashes are kept.  That makes it the
    standard index for partial-overlap detection (plagiarism, quoted
    boilerplate, code clones) where document-level Jaccard is diluted
    and exact-substring census (exact_substring_dup_spans) is the
    verify step, not the index.

    Plan shape: positional k-gram hashes via the shingle_relation
    codegen idiom (posexplode + null-safe ``get`` + md5 — the
    digest, not the text, is what everything downstream touches);
    the window-minimum runs as ONE per-document analytic window
    (``min`` over ``struct(hash, -pos)`` — struct ordering makes the
    rightmost-tie rule a plain min; frame = CURRENT ROW .. window-1
    FOLLOWING), so the only exchange is the per-document sort, which
    scales with the widest single document, not the corpus.  Docs
    with fewer than ``window`` k-grams keep their global minimum
    (one fingerprint); docs shorter than ``k`` tokens emit nothing
    (full-width k-grams only — tiny docs belong to exact dedup).
    DuckDB replays every step (md5, struct-min window) exactly.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    t = tokens(F.col(text_col))
    # (r15 note: a fan_out_small_scan here was A/B-measured LOSING —
    # 0.72 -> 0.92 s / 1.52 -> 2.18 s on the two winnowing queries:
    # the per-document analytic window right after pays the extra
    # exchange back with interest.  Left on the scan deliberately.)
    toks = (
        df.select(F.col(id_col).alias("_id"), t.alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select(
            "_id",
            "_toks",
            (F.size("_toks") - k + 1).alias("_S"),
            F.posexplode("_toks").alias("_i", "_tok"),
        )
        .filter(F.col("_i") <= F.col("_S") - 1)
    )
    parts = [F.col("_tok")] + [
        F.get(F.col("_toks"), F.col("_i") + j) for j in range(1, k)
    ]
    rel = toks.select(
        "_id",
        "_S",
        (F.col("_i") + 1).alias("_pos"),
        F.md5(F.concat_ws(" ", *parts)).alias("_h"),
    )
    wspec = (
        Window.partitionBy("_id").orderBy("_pos").rowsBetween(0, window - 1)
    )
    fp = F.min(
        F.struct(F.col("_h").alias("h"), (-F.col("_pos")).alias("np"))
    ).over(wspec)
    return (
        rel.withColumn("_fp", fp)
        .filter(F.col("_pos") <= F.greatest(F.col("_S") - window + 1, F.lit(1)))
        .select(
            F.col("_id").alias(id_col),
            F.col("_fp.h").alias("fingerprint"),
            (-F.col("_fp.np")).alias("fp_pos"),
        )
        .distinct()
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Partial-overlap document pairs via the winnowing fingerprint
    index: ``(id_a, id_b, n_shared, containment)`` for every pair
    sharing at least ``min_shared`` selected fingerprints, where
    ``containment = n_shared / min(|fp_a|, |fp_b|)`` over the post-cap
    fingerprint SETS.  This is what MOSS actually serves: winnowing's
    local guarantee makes shared fingerprints a certificate of shared
    substrings, so a high containment on a SMALL document flags a
    quote/excerpt relation that document-level Jaccard dilutes away.

    Scale shape mirrors :func:`blocked_ngram_jaccard_pairs` — inverted
    index on the fingerprint (never an all-pairs scan), so the cost is
    sum over fingerprints of df², with ``max_doc_freq`` dropping
    corpus-scale stop-fingerprints (boilerplate selected by every
    doc's windows) consistently from both the pair counts and the
    per-doc set sizes; winnowing itself pre-thins the index to
    ~2/(window+1) of all k-grams, so the join input is a fraction of
    the Jaccard operator's at identical guarantees on ≥ window+k−1
    token overlaps.  DuckDB replays the whole pipeline exactly
    (md5 digests, struct-min windows, integer counts; the one double
    — containment — is a single IEEE division both engines agree on).
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    fps = winnowing_fingerprints(df, id_col, text_col, k=k, window=window).select(
        F.col(id_col).alias("_id"), "fingerprint"
    ).distinct()
    inter, sizes, _ = _shared_key_overlap(
        fps, fps, ["fingerprint"], "id_a", "id_b", max_doc_freq
    )
    shared = inter.filter(
        (F.col("id_a") < F.col("id_b")) & (F.col("_inter") >= min_shared)
    )
    return (
        _with_size(_with_size(shared, sizes, "id_a", "_sz_a"), sizes, "id_b", "_sz_b")
        .select(
            "id_a",
            "id_b",
            F.col("_inter").alias("n_shared"),
            (
                F.col("_inter").cast("double")
                / F.least("_sz_a", "_sz_b").cast("double")
            ).alias("containment"),
        )
    )


def exact_substring_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 15,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring (suffix-window) duplicate spans, the Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models
    Better" family (arXiv:2107.06499): for every document, the MAXIMAL
    token spans covered by fixed-width ``window``-token substrings
    whose exact content occurs at least ``min_count`` times in the
    whole corpus (within- or cross-document — the suffix-array
    definition counts both).  Output one row per merged span:
    ``(id_col, span_start, span_end, span_tokens, n_windows)``, token
    positions 1-based inclusive.  These are the byte ranges a
    train-data pipeline deletes (all-but-one occurrence) — verbatim
    boilerplate, licenses, templates — which shingle/embedding
    near-dup families systematically under-report because a long
    shared substring inside an otherwise-unique document never lifts
    whole-document Jaccard over any threshold.

    Spark re-expression of the suffix-array algorithm (the paper
    builds one giant suffix array; a distributed engine neither can
    nor needs to): a length-``window`` substring repeats iff its
    window-hash repeats, so the corpus-wide repeat relation is a
    hash-groupBy — no suffixes ever sort globally.

    Plan shape, stage by stage:

    1. window relation — the :func:`shingle_relation` codegen idiom
       (posexplode + null-safe ``get`` lookups + ``concat_ws``; no
       shuffle, no interpreted higher-order functions), with md5 taken
       per window so the shuffle moves a fixed-width digest, never
       window text.  Docs shorter than ``window`` emit nothing (a
       window must be full width — unlike shingles there is no
       whole-doc fallback).
    2. repeat census — partial-agg ``groupBy(hash)`` keeping hashes
       with total count ≥ ``min_count``; the join back is a semi-join
       on the digest.  No df-cap is needed: stage 3 is per-document
       and a window can contribute at most once per position.
    3. interval merge — per-document window functions (``lag`` →
       break flag → running-sum group id): windows at positions p, q
       merge iff q ≤ p + window (overlap or exact adjacency), which is
       the standard sorted-interval merge since span ends are
       monotonic in starts.  Partitioned by document id — there is no
       global window anywhere, so the stage scales with the widest
       single document, not the corpus.

    100 TB notes: stage 1 is scan-linear (Σ tokens rows, 16-byte
    digests); stage 2 is the same shuffle envelope as the
    decontamination inverted index; stage 3 shuffles only positions of
    REPEATED windows.  md5 is the oracle-parity hash family (DuckDB
    computes the identical digest); production callers on a trusted
    single engine can swap ``xxhash64`` for ~2× stage-1 throughput,
    exactly the minhash fast-path trade.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2 tokens, got {window}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    win = substring_window_relation(df, id_col, text_col, window)
    hot = (
        win.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_h")
    )
    dup = win.join(hot, "_h", "left_semi")
    doc_w = Window.partitionBy("_id").orderBy("_pos")
    flagged = dup.select(
        "_id",
        "_pos",
        F.when(
            F.col("_pos") > F.lag("_pos").over(doc_w) + window, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("_brk"),
    )
    grouped = flagged.select(
        "_id",
        "_pos",
        F.sum("_brk")
        .over(doc_w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_grp"),
    )
    return grouped.groupBy("_id", "_grp").agg(
        F.min("_pos").alias("span_start"),
        (F.max("_pos") + window - 1).alias("span_end"),
        (F.max("_pos") + window - F.min("_pos")).alias("span_tokens"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select(
        F.col("_id").alias(id_col),
        "span_start",
        "span_end",
        "span_tokens",
        "n_windows",
    )


def exact_substring_dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    window: int = 15,
    min_count: int = 2,
) -> DataFrame:
    """The APPLIED form of :func:`exact_substring_dup_spans` — Lee et
    al.'s actual pipeline output: the corpus REWRITTEN with every
    non-canonical occurrence of a repeated ``window``-token substring
    deleted.  One row per input document:
    ``(id_col, n_tokens, n_tokens_kept, n_tokens_removed,
    cleaned_text)``, where ``cleaned_text`` is the surviving tokens
    re-joined with single spaces (whitespace is normalized — the same
    canonicalization both engines' tokenizers apply).

    Keep rule: for each repeated window content, the occurrence with
    the lexicographically smallest ``(doc_id, pos)`` is canonical and
    stays; every other occurrence's token range is deleted.  The rule
    is a partial-aggregable ``min(struct(doc_id, pos))`` — no
    per-content window function, so one boilerplate string repeated
    10⁶ times costs a mergeable agg, not a 10⁶-row sort partition
    (both engines order structs lexicographically, so the canonical
    pick is cross-engine exact).  As in the paper's byte-range
    deletion, a canonical occurrence can still lose tokens to an
    OVERLAPPING removed range of a different repeated substring —
    removal is the per-token union of removed ranges.

    Plan: window census (same envelope as the spans operator) →
    removed ranges exploded to token positions (``sequence`` +
    ``explode``, distinct per doc) → per-token anti-join → per-doc
    re-assembly via ``array_sort(collect_list(struct(pos, tok)))``
    (sort is per-document and bounded by the longest doc, never
    global).  Docs with nothing removed — including docs shorter than
    the window — pass through with their normalized text intact; a
    fully-deleted doc yields an empty ``cleaned_text`` rather than
    vanishing, so the output is always corpus-complete (the follow-on
    training-prep stages key on it).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2 tokens, got {window}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    win = substring_window_relation(df, id_col, text_col, window)
    keyed = (
        win.groupBy("_h")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("_keep"),
        )
        .filter(F.col("_n") >= min_count)
        .select("_h", "_keep")
    )
    removed_pos = (
        win.join(keyed, "_h")
        .filter(
            ~(
                (F.col("_id") == F.col("_keep._id"))
                & (F.col("_pos") == F.col("_keep._pos"))
            )
        )
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + window - 1)
            ).alias("_tp"),
        )
        .distinct()
    )
    t = tokens(F.col(text_col))
    tok_pos = (
        df.select(F.col(id_col).alias("_id"), t.alias("_toks"))
        .select("_id", F.posexplode("_toks").alias("_i", "_tok"))
        .select("_id", (F.col("_i") + 1).alias("_tp"), "_tok")
    )
    kept = tok_pos.join(removed_pos, ["_id", "_tp"], "left_anti")
    agg = kept.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_tp", "_tok"))),
                lambda s: s["_tok"],
            ),
        ).alias("_cleaned"),
    )
    base = df.select(
        F.col(id_col).alias("_id"), F.size(t).alias("n_tokens")
    )
    return base.join(agg, "_id", "left").select(
        F.col("_id").alias(id_col),
        "n_tokens",
        F.coalesce(F.col("_kept"), F.lit(0)).cast("long").alias("n_tokens_kept"),
        (F.col("n_tokens") - F.coalesce(F.col("_kept"), F.lit(0)))
        .cast("long")
        .alias("n_tokens_removed"),
        F.coalesce(F.col("_cleaned"), F.lit("")).alias("cleaned_text"),
    )


def _symmetrize_edges(edges: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Undirected pair list → distinct directed ``(_src, _dst)``
    relation, materialized eagerly (one localCheckpoint) — the shared
    pre-loop step of every round-based graph primitive here
    (:func:`bfs_hops`, :func:`pagerank`, :func:`label_propagation`,
    :func:`kcore`).  Materializing BEFORE any per-round derivation
    matters: multiple plan branches reference this relation, and
    without the boundary the (expensive) upstream pair pipeline
    re-executes per reference — measured as a whole x10 probe
    regression before pagerank grew this line.
    Callers own the block release (``.unpersist()`` once their own
    successor is materialized)."""
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("_src"), F.col(id_b).alias("_dst")),
                    F.struct(F.col(id_b).alias("_src"), F.col(id_a).alias("_dst")),
                )
            ).alias("_e")
        )
        .select("_e._src", "_e._dst")
        .distinct()
        .localCheckpoint(eager=True)
    )


def _pagerank_local_or_none(
    edges, nodes, id_a, id_b, node_col, damping, iterations, n
):
    """Gated driver-side twin of :func:`pagerank`'s decimal-exact
    iteration.  Every arithmetic step is replayed with EXACT integer
    arithmetic at the same scales (contributions at scale 30 as
    arbitrary-precision Python ints, everything else scale-16/14
    int64), the same HALF_UP roundings at the same points, and the
    same double→decimal literal protocol for 1/deg and the teleport
    term — decimal arithmetic is order-free, so driver-side summation
    is value-identical to the shuffle.  Output strings follow the
    General Decimal Arithmetic to-string rule, the same rule Java
    BigDecimal.toString applies to Spark's Decimal(18,16)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pyarrow as pa

    got = _collect_graph(edges, nodes, id_a, id_b, node_col)
    if got is None:
        return None
    ea, eb, nn = got
    uniq = np.unique(nn)
    if len(uniq) != len(nn):
        return None  # duplicate spine rows duplicate contributions
    q14 = Decimal("1e-14")
    base = Decimal(float(1 - Decimal(damping)) / n).quantize(
        q14, ROUND_HALF_UP
    )
    r_init = Decimal(1.0 / n).quantize(q14, ROUND_HALF_UP)
    d2 = int(
        Decimal(damping).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100
    )
    base18 = int(base.scaleb(14)) * 10**4

    su, sv = _sym_unique(ea, eb)
    # inv_deg per source over the FULL symmetric edge set (degree is
    # not spine-restricted), via the double→round14→decimal(16,14)
    # protocol of the plan.  The Decimal rounding is a pure function
    # of the DEGREE VALUE, so it runs once per distinct degree (a
    # handful) instead of once per node (ADVICE r14 — the driver loop
    # near the gate ceiling).
    dkeys, dcnt = np.unique(su, return_counts=True)
    uniq_deg = np.unique(dcnt)
    deg2inv = {}
    for dv in uniq_deg:
        x = 1.0 / float(dv)
        r14d = float(Decimal(repr(x)).quantize(q14, ROUND_HALF_UP))
        deg2inv[int(dv)] = int(
            Decimal(repr(r14d)).quantize(q14, ROUND_HALF_UP).scaleb(14)
        )
    inv14 = np.fromiter(
        (deg2inv[int(dv)] for dv in dcnt), dtype=np.int64, count=len(dcnt)
    )
    # contributions flow src→dst, both endpoints spine members
    m = _isin_sorted(su, uniq) & _isin_sorted(sv, uniq)
    cs, cd = su[m], sv[m]
    cs_pos = np.searchsorted(uniq, cs)
    cd_pos = np.searchsorted(uniq, cd)
    node_inv = np.zeros(len(uniq), dtype=np.int64)
    if len(dkeys):
        pos_in_dkeys = np.searchsorted(dkeys, uniq)
        np.clip(pos_in_dkeys, 0, len(dkeys) - 1, out=pos_in_dkeys)
        has_deg = dkeys[pos_in_dkeys] == uniq
        node_inv[has_deg] = inv14[pos_in_dkeys[has_deg]]

    # Exact scale-30 accumulation, VECTORIZED in two int64 lanes
    # (ADVICE r14: the per-edge Python bigint loop was tens of
    # millions of interpreter ops near the gate ceiling).  Every step
    # below is exact integer arithmetic — value-identical to the
    # arbitrary-precision loop it replaces, just decomposed so no
    # intermediate exceeds int64:
    #   w = r16·inv14 ≤ 10^16·10^14 = 10^30 splits as
    #   (a1,a0) = divmod(r16, 10^9), (c1,c0) = divmod(inv14, 10^7);
    #   w = a1·c1·10^16 + a1·c0·10^9 + a0·c1·10^7 + a0·c0 with every
    #   product ≤ 10^16 — then re-packed into (w_hi, w_lo) lanes of
    #   base 10^15.  Per-dst lane sums stay int64-safe: Σw over ALL
    #   edges is the total rank mass ≤ ~10^30, so Σw_hi ≤ ~10^15 + E;
    #   w_lo (< 10^15 each) is accumulated in 8000-edge chunks with a
    #   carry renormalization between chunks.
    r16 = np.full(len(uniq), int(r_init.scaleb(16)), dtype=np.int64)
    P15, P14, P13 = 10**15, 10**14, 10**13
    for _ in range(iterations):
        a1, a0 = np.divmod(r16, 10**9)
        c1, c0 = np.divmod(node_inv, 10**7)
        t3 = a1 * c1  # ·10^16
        q1, r1 = np.divmod(a0 * c1, 10**8)  # t·10^7 = q·10^15 + r·10^7
        q2, r2 = np.divmod(a1 * c0, 10**6)  # t·10^9 = q·10^15 + r·10^9
        lo_acc = a0 * c0 + r1 * 10**7 + r2 * 10**9
        q3, r3 = np.divmod(lo_acc, P15)
        w_lo = r3
        w_hi = t3 * 10 + q1 + q2 + q3
        sums_hi = np.zeros(len(uniq), dtype=np.int64)
        sums_lo = np.zeros(len(uniq), dtype=np.int64)
        CH = 8000
        for lo in range(0, len(cs), CH):
            hi = min(lo + CH, len(cs))
            np.add.at(sums_lo, cd_pos[lo:hi], w_lo[cs_pos[lo:hi]])
            np.add.at(sums_hi, cd_pos[lo:hi], w_hi[cs_pos[lo:hi]])
            carry, rem = np.divmod(sums_lo, P15)
            sums_hi += carry
            sums_lo = rem
        # round 30→16: sums30 = hi·10^15 + lo; (sums30 + 5·10^13)//10^14
        sums_lo += 5 * P13
        carry, rem = np.divmod(sums_lo, P15)
        sums_hi += carry
        s16 = sums_hi * 10 + rem // P14
        r16 = (base18 + d2 * s16 + 50) // 100  # round 18→16
    vals = [
        str(Decimal(int(v)).scaleb(-16))
        for v in r16[np.searchsorted(uniq, nn)]
    ]
    out = pa.table(
        {
            node_col: pa.array(nn, type=pa.int64()),
            "pr_score": pa.array(vals, type=pa.string()),
        }
    )
    return edges.sparkSession.createDataFrame(out)


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "_id",
    damping: str = "0.85",
    iterations: int = 8,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph —
    (node_col, pr_score) with pr_score a DECIMAL(18,16) rendered as a
    string.  The fourth graph primitive after components / BFS /
    triangles: rank concentration inside a near-dup component
    identifies its CANONICAL document (the one most documents drift
    from — boilerplate hubs, template ancestors), which is a better
    keep-one choice than min-id and complements the quality-based pick
    (deduped_corpus_best_quality).

    Every arithmetic step is **decimal-exact and cross-engine**, which
    is what makes an iterative float algorithm hash-checkable against
    an external SQL oracle at all:

      * per-node ``1/deg`` and the teleport term ``(1-d)/N`` are IEEE
        doubles rounded HALF_UP to 14 dp once (both engines round the
        same double, so the literals agree bit-for-bit);
      * each round computes ``r·inv_deg`` as DECIMAL(18,16) ×
        DECIMAL(16,14) → exact DECIMAL(·,30), sums exactly, rounds the
        sum back to 16 dp, and applies ``base + d·s`` in pure decimal
        arithmetic — no step ever exceeds DECIMAL(38) precision in
        either engine, so no engine-specific precision-loss rounding
        fires, and every intermediate is EQUAL (not close) across
        engines;
      * rank is therefore shuffle-order-proof: decimal addition is
        associative/commutative, unlike the IEEE doubles it replaces.

    Dangling mass (nodes with no edges) is NOT redistributed — isolated
    docs keep the teleport floor and contribute nothing, the standard
    simplification when rank is used for intra-component ordering
    rather than as a global probability (column sums shrink, per-node
    ORDER is unaffected).

    Scale shape: the edge relation is symmetrized once, pre-joined with
    ``inv_deg``, and localCheckpoint-ed before the loop; each of the
    ``iterations`` rounds is ONE shuffle join on the node id + one
    partial-agg groupBy — the same per-round cost envelope as
    :func:`connected_components`, with the same persist/unpersist/
    checkpoint lineage hygiene.  Rounds are FIXED (no convergence
    probe): parity with the unrolled SQL oracle requires a literal
    round count, and rank ordering stabilizes well inside 8 rounds on
    census-capped dedup graphs.
    """
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    from decimal import ROUND_HALF_UP, Decimal

    n = nodes.count()
    if n == 0:
        return nodes.select(
            F.col(node_col), F.lit(None).cast("string").alias("pr_score")
        )
    fast = _pagerank_local_or_none(
        edges, nodes, id_a, id_b, node_col, damping, iterations, n
    )
    if fast is not None:
        return fast
    q14 = Decimal("1e-14")
    # Decimal(float) is the EXACT binary expansion — the same value
    # DuckDB's round(0.15/n, 14) sees — not the shortest repr.  Both
    # literals follow the same IEEE-divide-then-HALF_UP protocol: the
    # division happens in double (as DuckDB's 0.15/n does — DOUBLE
    # promotion), THEN the exact binary expansion is quantized.  An
    # exact Decimal division here could land on the other side of a
    # 14-dp half-way boundary than the double the oracle rounds.
    base = Decimal(float(1 - Decimal(damping)) / n).quantize(q14, ROUND_HALF_UP)
    r_init = Decimal(1.0 / n).quantize(q14, ROUND_HALF_UP)

    e = _symmetrize_edges(edges, id_a, id_b)
    deg = e.groupBy("_src").agg(F.count(F.lit(1)).alias("_d"))
    inv = deg.select(
        "_src",
        F.round(F.lit(1.0) / F.col("_d"), 14).cast("decimal(16,14)").alias("_invd"),
    )
    # One relation, one materialization: every round joins ranks
    # against (src, dst, invd) — re-deriving deg/inv per round would
    # re-run the whole upstream pair pipeline each iteration.
    ej = e.join(inv, "_src").localCheckpoint(eager=True)
    e.unpersist()

    base_lit = F.lit(str(base)).cast("decimal(16,14)")
    d_lit = F.lit(damping).cast("decimal(3,2)")
    # The spine is re-consumed every round; checkpoint it once so the
    # per-round plan references a materialized relation, not a fresh
    # source scan per iteration.
    spine = nodes.select(F.col(node_col).alias("_n")).localCheckpoint(eager=True)
    r = spine.select("_n", F.lit(str(r_init)).cast("decimal(18,16)").alias("_r"))
    # Unlike connected_components there is NO per-round convergence
    # action here (the round count is fixed for oracle parity), so the
    # rounds chain LAZILY — each localCheckpoint every
    # ``checkpoint_every`` rounds executes that block of rounds exactly
    # once and truncates lineage; a per-round materialization was
    # measured ~2× slower purely on per-job fixed overhead.
    for it in range(iterations):
        m = (
            r.join(ej, r["_n"] == ej["_src"])
            .select("_dst", (F.col("_r") * F.col("_invd")).alias("_c"))
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_s"))
        )
        s_r = (
            F.round(
                F.coalesce(F.col("_s"), F.lit(0).cast("decimal(38,30)")), 16
            )
            .cast("decimal(18,16)")
        )
        r = (
            spine.join(m, spine["_n"] == m["_dst"], "left")
            .select(
                "_n",
                F.round(base_lit + d_lit * s_r, 16)
                .cast("decimal(18,16)")
                .alias("_r"),
            )
        )
        if (it + 1) % checkpoint_every == 0 and (it + 1) < iterations:
            r = r.localCheckpoint(eager=True)
    final = r.localCheckpoint(eager=True)
    ej.unpersist()
    return final.select(
        F.col("_n").alias(node_col),
        F.col("_r").cast("string").alias("pr_score"),
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "_id",
    rounds: int = 4,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan et al. 2007)
    over an undirected pair graph — ``(node_col, community)``.  The
    sixth graph primitive: where connected components glue everything
    a single bridge edge touches into one cluster, LPA's majority vote
    keeps DENSE regions together and lets weak bridges dissolve — the
    right granularity when a near-dup "component" is really two
    template families joined by one chance collision (the pytest pins
    exactly that: two triangles plus a bridge edge → two communities,
    where CC reports one).

    Deterministic and integer-exact, hence fully oracle-checkable:
    labels start as node ids; each round every node adopts the most
    frequent label among its neighbors with ties broken by SMALLEST
    label — the argmax is a single ``max(struct(count, -label))``
    partial-aggregable struct ordering (the same trick the SimHash
    majority vote and keep-longest policies use), no window, no
    nondeterministic ``first()``.  Isolated nodes keep their own id.
    Synchronous updates + fixed round count = the unrolled-CTE oracle
    replays every round exactly (async/convergence-probed variants are
    not cross-engine checkable; 4 rounds settles census-capped dedup
    graphs — the pytest graph converges in 3).

    Scale shape: identical per-round envelope to :func:`pagerank` —
    the symmetrized edge list is materialized ONCE before the loop,
    each round is one shuffle join (labels × edges) + two partial
    aggregations, rounds chain lazily with a lineage checkpoint every
    ``checkpoint_every`` rounds, and the loop ends in one eager
    materialization that releases the edge blocks.
    """
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    fast = _lpa_local_or_none(edges, nodes, id_a, id_b, node_col, rounds)
    if fast is not None:
        return fast
    e = _symmetrize_edges(edges, id_a, id_b)
    spine = nodes.select(F.col(node_col).alias("_n")).localCheckpoint(eager=True)
    lab = spine.select("_n", F.col("_n").alias("_l"))
    for it in range(rounds):
        m = (
            lab.join(e, lab["_n"] == e["_dst"])
            .groupBy("_src", "_l")
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy("_src")
            .agg(
                F.max(
                    F.struct(F.col("_c").alias("c"), (-F.col("_l")).alias("nl"))
                ).alias("_m")
            )
            .select(F.col("_src"), (-F.col("_m.nl")).alias("_new"))
        )
        lab = spine.join(m, spine["_n"] == m["_src"], "left").select(
            "_n", F.coalesce(F.col("_new"), F.col("_n")).alias("_l")
        )
        if (it + 1) % checkpoint_every == 0 and (it + 1) < rounds:
            lab = lab.localCheckpoint(eager=True)
    final = lab.localCheckpoint(eager=True)
    e.unpersist()
    return final.select(
        F.col("_n").alias(node_col), F.col("_l").alias("community")
    )


def kcore(
    edges: DataFrame,
    k: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    rounds: int = 8,
) -> DataFrame:
    """Fixed-round k-core peeling over an undirected pair graph:
    (node, core_degree) for every node still alive after ``rounds``
    peels — each peel removes all nodes of current degree < k, then
    restricts the edge set to survivors.

    The fifth graph primitive (components / BFS / triangles /
    PageRank / k-core): the k-core is the dense sub-graph where every
    member has ≥ k surviving near-dup partners — boilerplate and
    template families that pairwise thresholds under-report, and the
    part of the graph where transitive-closure dedup is SAFE (a 3-core
    member's duplicates corroborate each other; a chain's don't — the
    triangle census gives the local view, the k-core the global one).

    Fixed ``rounds`` (not peel-until-stable) for the same reason as
    :func:`pagerank`: the SQL oracle unrolls the identical peel
    sequence, so both engines run EXACTLY the same dataflow and the
    output is deterministic whether or not peeling has converged.
    Peeling is idempotent at the fixed point, so extra rounds are
    no-ops; dedup blob graphs converge in 2–3.  All-integer arithmetic
    — no float discipline needed at all.

    Scale shape (reworked in r7 after the 10× probe flagged α 1.2 on
    the old alive-semi-join peel): each round is ONE eager
    materialization — a partial-agg degree census feeding two
    **anti-joins against the DEAD set** (nodes with 0 < degree < k).
    Peeling by the dead set instead of semi-joining the alive set is
    the asymmetry that makes fixed extra rounds cheap: the alive set
    is O(nodes) every round, but the dead set shrinks to EMPTY at the
    fixed point, so converged rounds degenerate to broadcast
    anti-joins that stream the edge relation with no shuffle (AQE
    picks the broadcast automatically from the census's runtime
    size).  The old shape paid two alive-sized shuffle semi-joins per
    round forever, plus a separate eager job per census whose lazy
    semi-join chain re-executed up to three prior rounds — measured
    as the whole α 1.2.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    fast = _kcore_local_or_none(edges, k, id_a, id_b, rounds)
    if fast is not None:
        return fast
    e = _symmetrize_edges(edges, id_a, id_b)
    cur = e
    prev = None
    for _ in range(rounds):
        dead = (
            cur.groupBy("_src")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") < k)
            .select("_src")
        )
        # One job per round: the census subtree appears on both anti
        # sides but reads a checkpointed RDD, and converged rounds cost
        # two empty-build broadcast anti-joins (no edge shuffle).
        nxt = (
            cur.join(dead, "_src", "left_anti")
            .join(dead.select(F.col("_src").alias("_dst")), "_dst", "left_anti")
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            prev.unpersist()
        prev, cur = cur, nxt
    out = (
        cur.groupBy("_src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("_src").alias("node"), "core_degree")
    )
    final = out.localCheckpoint(eager=True)
    if prev is not None:
        prev.unpersist()
    cur.unpersist()
    e.unpersist()
    return final

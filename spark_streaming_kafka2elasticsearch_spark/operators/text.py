"""Text-analysis operators over a documents table.

Beyond the reference's surface (north-star extensions): quality
scoring, token statistics, document fingerprinting, and heuristic
language ID — all pure Catalyst expressions (no UDFs), so they run
inside WholeStageCodegen and scale linearly with corpus size: every
operator here is a narrow map over partitions, zero shuffles.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.functions.text import (
    alpha_ratio,
    punct_count,
    tokens,
    tokens_sql,
)
from spark_streaming_kafka2elasticsearch_spark.operators import twins


def text_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: char/token counts, mean token
    length, punctuation and alpha ratios.  All exact integer/double
    arithmetic — deterministic across engines."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks)
    total_token_chars = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    return df.withColumns(
        {
            "n_chars_calc": F.length(t),
            "n_tokens": n_tokens,
            "mean_token_len": F.when(n_tokens == 0, F.lit(0.0)).otherwise(
                total_token_chars.cast("double") / n_tokens.cast("double")
            ),
            "punct_ratio": F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
                punct_count(t).cast("double") / F.length(t).cast("double")
            ),
            "alpha_ratio": alpha_ratio(t),
        }
    )


def document_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical-form fingerprint: lowercase, collapse whitespace runs,
    trim, md5.  Two documents differing only in case/whitespace collide
    — the standard first-pass near-dup key for web corpora."""
    normalized = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(normalized))


def language_id(
    df: DataFrame,
    markers: Mapping[str, Sequence[str]],
    text_col: str = "text",
    priority: Sequence[str] | None = None,
) -> DataFrame:
    """Marker-word language ID: count distinct marker hits per language,
    predict the highest-count language (ties broken by ``priority``
    order), 'unknown' when nothing matches.

    This n-gram/stopword-hit heuristic is the classic cheap language
    filter for corpus curation; ``markers`` is caller-supplied so real
    deployments can plug in proper stopword lists.
    """
    toks = tokens(F.col(text_col))
    counts: dict[str, Column] = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in markers.items()
    }
    order = list(priority) if priority is not None else sorted(markers)
    best = F.greatest(*counts.values()) if len(counts) > 1 else next(iter(counts.values()))
    pred: Column = F.lit("unknown")
    # Build the CASE chain back-to-front so earlier languages win ties.
    for lang in reversed(order):
        pred = F.when(counts[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("unknown")).otherwise(pred)
    out = df.withColumn("predicted_lang", pred)
    for lang in order:
        out = out.withColumn(f"hits_{lang}", counts[lang])
    return out


def language_id_oracle_sql(
    markers: Mapping[str, Sequence[str]],
    out_cols: Sequence[str],
    table: str = "documents",
    text_col: str = "text",
    priority: Sequence[str] | None = None,
) -> str:
    """The DuckDB-equivalent SQL for :func:`language_id` — generated
    from the same marker spec so Spark and oracle can never drift.
    ``out_cols`` are the passthrough columns to emit alongside
    ``predicted_lang``."""
    order = list(priority) if priority is not None else sorted(markers)

    def count_expr(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in markers[lang])
        return (
            f"len(list_intersect(list_filter(string_split_regex({text_col}, '\\s+'),"
            f" x -> x <> ''), [{words}]))"
        )

    count_cols = ",\n  ".join(f"{count_expr(lang)} AS hits_{lang}" for lang in order)
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in order) + ")"
    chain = "\n    ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in order
    )
    passthrough = ", ".join(out_cols)
    return f"""
WITH hits AS (
  SELECT {passthrough},
  {count_cols}
  FROM {table}
)
SELECT {passthrough},
  CASE WHEN {best} = 0 THEN 'unknown'
    {chain}
    ELSE 'unknown' END AS predicted_lang
FROM hits
"""


#: The Gopher rule set's required stop words (Rae et al. 2021, §A1.1):
#: a document must contain at least 2 of these to pass the filter.
GOPHER_STOP_WORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.80,
    min_stop_words: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    public heuristics used by most LLM corpus pipelines):

    * word count in [min_words, max_words];
    * mean word length in [min_mean_word_len, max_mean_word_len];
    * symbol-to-word ratio (``#`` and ``...``) ≤ max_symbol_word_ratio;
    * ≥ min_alpha_word_frac of words contain an alphabetic character;
    * ≥ min_stop_words distinct required stop words present.

    Emits the raw metrics, one 0/1 flag per rule, and the conjunction
    ``keep`` — keep the metrics, not just the verdict, so thresholds
    can be re-tuned without re-tokenizing the corpus.

    Scale shape: pure Catalyst expressions over one row — a narrow
    zero-shuffle map that runs inside WholeStageCodegen; at 100 TB this
    is scan-bound, exactly what a first-pass corpus filter must be.
    All arithmetic is exact-int counts plus single double divisions, so
    any SQL engine reproduces the values bit-for-bit.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    nw = n_words.cast("double")
    total_word_chars = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    mean_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        total_word_chars.cast("double") / nw
    )
    # '#' count + '...' count (non-overlapping, both engines' replace()
    # semantics); the difference is a multiple of 3 so /3 is exact.
    sym_count = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))) + (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_word_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(
        sym_count.cast("double") / nw
    )
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    alpha_word_frac = F.when(n_words == 0, F.lit(0.0)).otherwise(
        alpha_words.cast("double") / nw
    )
    n_stop = sum(
        (F.array_contains(toks, w).cast("int") for w in GOPHER_STOP_WORDS),
        F.lit(0),
    )
    flag_word_count = (
        (n_words >= min_words) & (n_words <= max_words)
    ).cast("int")
    flag_mean_word_len = (
        (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
    ).cast("int")
    flag_symbol_ratio = (symbol_word_ratio <= max_symbol_word_ratio).cast("int")
    flag_alpha_words = (alpha_word_frac >= min_alpha_word_frac).cast("int")
    flag_stop_words = (n_stop >= min_stop_words).cast("int")
    return df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": mean_word_len,
            "symbol_word_ratio": symbol_word_ratio,
            "alpha_word_frac": alpha_word_frac,
            "n_stop_words": n_stop,
            "flag_word_count": flag_word_count,
            "flag_mean_word_len": flag_mean_word_len,
            "flag_symbol_ratio": flag_symbol_ratio,
            "flag_alpha_words": flag_alpha_words,
            "flag_stop_words": flag_stop_words,
            "keep": flag_word_count
            * flag_mean_word_len
            * flag_symbol_ratio
            * flag_alpha_words
            * flag_stop_words,
        }
    )


def repetition_ratio(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 2
) -> DataFrame:
    """Per-document n-gram repetition — the Gopher-style quality rule
    (a doc whose k-grams repeat heavily is boilerplate/spam and gets
    down-weighted or dropped before training):
    ``repetition_ratio = 1 − distinct k-grams / total k-grams``.

    Scale shape: the zero-shuffle codegen shingle relation
    (``distinct=False``), then ONE partial-aggregating groupBy per
    document computing count + count(distinct) together.  Exact
    integer arithmetic and a single double division keep the value
    bit-identical across engines."""
    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        shingle_relation,
    )

    rel = shingle_relation(df, id_col, text_col, k=k, distinct=False)
    n = F.count(F.lit(1))
    nd = F.count_distinct(F.col("_sh"))
    return rel.groupBy(F.col("_id").alias(id_col)).agg(
        n.alias("n_grams"),
        nd.alias("n_distinct_grams"),
        (F.lit(1.0) - nd.cast("double") / n.cast("double")).alias(
            "repetition_ratio"
        ),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into fixed-token chunks with overlap — the
    context-window preparation step of an LLM training/RAG pipeline
    (long docs must become ≤N-token pieces; overlap preserves
    cross-boundary context).  Output: (id_col, chunk_id, chunk_text,
    n_chunk_tokens), chunk_id 0-based; empty/whitespace-only docs
    yield no rows (nothing to train on).

    Pure codegen, zero shuffles: tokenize → ``sequence`` of chunk
    starts (stride = chunk_tokens − overlap) → ``slice`` +
    ``concat_ws`` per chunk → ``posexplode``.  The last chunk is the
    remainder (shorter than chunk_tokens); a chunk start past the end is
    never generated, so no empty trailing chunks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    t = tokens(F.col(text_col))
    n = F.size(t)
    # starts: 1, 1+step, ... while start <= n (1-based slice indexing);
    # the ceil division counts chunks: ceil((n - overlap) / step).
    n_chunks = F.ceil((n - F.lit(overlap)).cast("double") / F.lit(step)).cast("int")
    starts = F.sequence(
        F.lit(0), F.greatest(n_chunks - 1, F.lit(0))
    )
    chunks = F.transform(
        starts,
        lambda i: F.concat_ws(" ", F.slice(t, i * step + 1, chunk_tokens)),
    )
    exploded = df.select(
        F.col(id_col),
        n.alias("_n"),
        F.posexplode(chunks).alias("chunk_id", "chunk_text"),
    )
    return (
        exploded.filter(F.col("_n") > 0)
        .select(
            id_col,
            "chunk_id",
            "chunk_text",
            F.size(tokens(F.col("chunk_text"))).alias("n_chunk_tokens"),
        )
    )


class ChunkDocumentsUDTF:
    """Python UDTF (Spark 4 table-valued function) emitting the same
    chunks as :func:`chunk_documents`: 32-token windows, 8-token
    overlap, short tail kept, empty docs dropped.

    This is the LATERAL-join Python escape hatch for chunkers that a
    SQL expression genuinely can't state (model-specific tokenizers,
    sentence-boundary packers); for whitespace chunking the
    pure-Catalyst :func:`chunk_documents` is the production path —
    this twin exists to pin the UDTF plumbing (registration, LATERAL
    correlation, per-row generator) against the identical oracle.
    Module-level class: workers import it from the shipped package
    zip rather than relying on pickling-by-value.
    """

    def eval(self, text: str, chunk_tokens: int, overlap: int):  # noqa: D102
        import re

        if text is None:
            return
        toks = [t for t in re.split(r"\s+", text) if t != ""]
        n = len(toks)
        if n == 0:
            return
        stride = chunk_tokens - overlap
        n_chunks = max(-(-(n - overlap) // stride), 1)  # ceil div
        for c in range(n_chunks):
            piece = toks[c * stride : c * stride + chunk_tokens]
            yield c, " ".join(piece), len(piece)


def chunk_documents_udtf(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """LATERAL-join the UDTF chunker against ``df`` — one generator
    call per document, rows fanned out by the engine.  Scale shape:
    a narrow per-partition Python crossing (no shuffle); the UDTF
    runs in the Python worker alongside the scan."""
    import uuid

    from pyspark.sql.functions import udtf

    spark = df.sparkSession
    fn = udtf(
        ChunkDocumentsUDTF,
        returnType="chunk_id int, chunk_text string, n_chunk_tokens int",
    )
    spark.udtf.register("chunk_documents_udtf", fn)
    # Unique view per call: a fixed name would let two concurrent
    # callers on one session clobber each other's input relation.
    view = f"_chunk_udtf_input_{uuid.uuid4().hex[:12]}"
    df.createOrReplaceTempView(view)
    return spark.sql(
        f"SELECT t.{id_col}, s.chunk_id, s.chunk_text, s.n_chunk_tokens "
        f"FROM {view} t, "
        f"LATERAL chunk_documents_udtf(t.{text_col}, {int(chunk_tokens)}, "
        f"{int(overlap)}) s"
    )


def hashed_bow_embedding(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    dim: int = 16,
) -> DataFrame:
    """Hashing-trick bag-of-words featurization: token → md5 →
    component index, component value = token count.  A REAL (if
    classical) text-embedding model — deterministic, vocabulary-free,
    streamable — producing (id_col, emb: array<bigint>).

    This is the honest in-container stand-in for a neural encoder:
    the dataflow (explode → hash-bucket → single aggregate with
    ``dim`` conditional sums → dense vector) is exactly the shape a
    Pandas-UDF encoder plugs into, but every step here is codegen'd
    and engine-exact, so the whole featurizer is oracle-checkable
    (md5 agrees across engines; xxhash64 would not leave Spark).

    ``dim`` ≤ 16 uses one hex nibble of the digest; enough for the
    demonstration while keeping the oracle a flat expression.
    """
    from spark_streaming_kafka2elasticsearch_spark.functions.text import tokens

    if not 1 <= dim <= 16:
        raise ValueError("dim must be in [1, 16] (single hex nibble bucketing)")
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_tok"))
    # First hex nibble of md5 → bucket in [0, dim): identical
    # instr/strpos spelling on both engines.
    nib = F.instr(F.lit("0123456789abcdef"), F.substring(F.md5("_tok"), 1, 1)) - 1
    bucketed = toks.select(id_col, (nib % dim).alias("_b"))
    counts = bucketed.groupBy(id_col).agg(
        F.array(
            *[
                F.sum(F.when(F.col("_b") == i, 1).otherwise(0)).cast("long")
                for i in range(dim)
            ]
        ).alias("emb")
    )
    spine = df.select(F.col(id_col))
    zero = F.array(*[F.lit(0).cast("long") for _ in range(dim)])
    return spine.join(counts, id_col, "left").select(
        F.col(id_col), F.coalesce("emb", zero).alias("emb")
    )


def logistic_quality_scores(
    df: DataFrame,
    weights: list[float],
    bias: float,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Learned-model quality gate (the fastText-style classifier every
    curation pipeline runs after the heuristic filters): a logistic
    model over hashed-BoW features, scored ENTIRELY JVM-side.  Output:
    (id_col, logit, keep) with ``keep = logit >= 0`` — the p ≥ 0.5
    decision.

    Model shape and scale story:
    * features = :func:`hashed_bow_embedding` counts, normalized to
      token frequencies (c_i / max(n_tokens, 1)) — the mean-of-token-
      embeddings form fastText uses, so a document's score is
      length-invariant;
    * the weight vector ships as a PLAN LITERAL (broadcast by
      construction — it is dim doubles; a real trained model at
      dim = 2²⁰ would broadcast a small table or close over a numpy
      array in a Pandas UDF, same contract as semdedup's centroids);
    * the dot product is the engine's sequential left-fold idiom
      (zip_with + aggregate) — the bit-exact path DuckDB's
      ``list_dot_product`` reproduces, so the score is value-checkable
      across engines, unlike anything containing exp/log (libm
      differs).  The sigmoid is MONOTONE in the logit, so emitting the
      logit + the boundary decision loses nothing: ranking, gating,
      and calibration thresholds all translate to logit space.

    ``weights``/``bias`` are caller-supplied — production feeds trained
    coefficients; the registry query pins a fixed literal model so the
    oracle replays it exactly.
    """
    dim = len(weights)
    feats = hashed_bow_embedding(df, id_col, text_col, dim=dim)
    # logit = bias + (w·c)/n, NOT bias + w·(c/n): hoisting the single
    # division out of the fold does one divide per row instead of one
    # per component — higher-order-function lambdas evaluate
    # interpreted, so work inside them is the per-row cost driver (a
    # per-element normalize re-ran the token-count fold 16× per row).
    # The oracle spells the identical hoisted form, so the float ops
    # still match bit-for-bit.
    n_tok = F.aggregate(
        F.col("emb"), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    n_safe = F.greatest(n_tok, F.lit(1)).cast("double")
    w = F.array(*[F.lit(float(wi)).cast("double") for wi in weights])
    dot = F.aggregate(
        F.zip_with(F.col("emb"), w, lambda ci, wi: ci.cast("double") * wi),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    logit = F.lit(float(bias)) + dot / n_safe
    # Two-step select: `keep` reads the MATERIALIZED logit column —
    # inlining the expression twice would evaluate the folds twice.
    scored = feats.select(F.col(id_col), logit.alias("logit"))
    return scored.select(
        F.col(id_col), "logit", (F.col("logit") >= 0.0).alias("keep")
    )


def logistic_quality_oracle_sql(
    weights: list[float],
    bias: float,
    id_col: str,
    text_col: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`logistic_quality_scores`, generated from
    the same weight literals so model and oracle cannot drift.  Relies
    on the probe-verified fact that ``list_dot_product`` over DOUBLE[]
    equals Spark's sequential left fold bit-for-bit (same contract as
    the SRP oracles)."""
    dim = len(weights)
    w_arr = ", ".join(repr(float(wi)) for wi in weights)
    comps = ", ".join(
        f"CAST(count(*) FILTER (b = {i}) AS BIGINT)" for i in range(dim)
    )
    zeros = ", ".join("CAST(0 AS BIGINT)" for _ in range(dim))
    return f"""
WITH toks AS (
  SELECT {id_col},
         unnest(list_filter(string_split_regex({text_col}, '\\s+'), x -> x <> '')) AS tok
  FROM {table}
),
bk AS (
  SELECT {id_col},
         (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) % {dim} AS b
  FROM toks
),
emb AS (SELECT {id_col}, [{comps}] AS emb FROM bk GROUP BY {id_col}),
feat AS (
  SELECT d.{id_col}, coalesce(emb.emb, [{zeros}]) AS c
  FROM {table} d LEFT JOIN emb ON d.{id_col} = emb.{id_col}
),
scored AS (
  SELECT {id_col},
         {float(bias)!r} + list_dot_product(
             list_transform(c, x -> CAST(x AS DOUBLE)), [{w_arr}])
           / CAST(greatest(list_aggregate(c, 'sum'), 1) AS DOUBLE) AS logit
  FROM feat
)
SELECT {id_col}, logit, logit >= 0.0 AS keep FROM scored
"""


def hashed_bow_oracle_sql(
    id_col: str, text_col: str = "text", dim: int = 16, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`hashed_bow_embedding` (same md5-nibble
    bucketing, same FILTER-per-component aggregate), generated so the
    spellings cannot drift."""
    comps = ", ".join(
        f"CAST(count(*) FILTER (b = {i}) AS BIGINT)" for i in range(dim)
    )
    zeros = ", ".join("CAST(0 AS BIGINT)" for _ in range(dim))
    return f"""
WITH toks AS (
  SELECT {id_col},
         unnest(list_filter(string_split_regex({text_col}, '\\s+'), x -> x <> '')) AS tok
  FROM {table}
),
b AS (
  SELECT {id_col},
         (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) % {dim} AS b
  FROM toks
),
emb AS (SELECT {id_col}, [{comps}] AS emb FROM b GROUP BY {id_col})
SELECT d.{id_col},
       array_to_string(coalesce(emb.emb, [{zeros}]), ',') AS emb_csv
FROM {table} d LEFT JOIN emb ON d.{id_col} = emb.{id_col}
"""


def _bpe_train_local_or_none(
    word_freq: DataFrame,
    rounds: int,
    tok_col: str,
    count_col: str,
    emit: str,
):
    """Gated driver-side twin of :func:`bpe_train`'s merge loop (the
    connected-components-twin doctrine, guide §2.4): the loop runs
    over a VOCAB-sized table by construction, and each of its
    ``rounds`` iterations pays two driver-blocking jobs (argmax
    checkpoint + merged-encodings checkpoint).  Under the 64 MB
    collect ceiling the whole loop runs as plain Python string/integer
    arithmetic with EXACT round semantics:

    * encodings: per-code-point bracket wrapping — Python indexing and
      Spark ``substring`` both count code points;
    * census: adjacent-pair counts weighted by word count, words with
      < 2 symbols contributing nothing;
    * argmax: ``min((-count, left, right))`` — Python tuple comparison
      on str equals Spark's struct ordering (UTF-8 binary order is
      code-point order, which is Python's str order);
    * merge application: ``str.replace`` is leftmost non-overlapping
      replace-all, exactly Spark's ``replace``.

    Degenerate inputs fall back to the distributed loop (None): NULL
    counts, a round with an empty pair census (whose NULL-poisoned
    merge row the twin does not replicate), or an over-ceiling vocab.
    Off under ``SPARK_GRAFT_TWINS=0`` (:mod:`.twins`).  The answer is
    built from an Arrow table in the distributed leg's column types, so
    Spark reads it as a local relation, with no Python worker.
    """
    if not twins.enabled():
        return None
    cap_bytes = twins._pair_score_broadcast_bytes()
    # generous per-row estimate: token + count + encoding overhead
    cap_rows = max(1, cap_bytes // 64)
    rows = word_freq.select(
        F.col(tok_col).alias("_tok"), F.col(count_col).alias("_c")
    ).limit(cap_rows + 1).collect()
    if len(rows) > cap_rows:
        return None
    words = []
    total_len = 0
    for r in rows:
        tok, c = r["_tok"], r["_c"]
        if tok is None or len(tok) == 0:
            continue  # the operator's empty-word guard
        if c is None or not isinstance(c, int):
            return None
        total_len += len(tok)
        words.append([tok, c, "<" + "><".join(tok) + ">"])
    if total_len * 8 > cap_bytes:
        return None
    merges = []
    for k in range(1, rounds + 1):
        census: dict = {}
        for _tok, c, enc in words:
            syms = enc[1:-1].split("><")
            if len(syms) < 2:
                continue
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                census[key] = census.get(key, 0) + c
        if not census:
            return None  # NULL-poisoned degenerate round: keep Spark
        nc, a, b = min(
            (-cnt, a, b) for (a, b), cnt in census.items()
        )
        merges.append((k, a, b, -nc))
        pat = f"<{a}><{b}>"
        rep = f"<{a}{b}>"
        for w in words:
            w[2] = w[2].replace(pat, rep)
    import pyarrow as pa

    if emit == "vocab":
        vocab: dict = {}
        for _tok, c, enc in words:
            for s in enc[1:-1].split("><"):
                vocab[s] = vocab.get(s, 0) + c
        out = pa.table(
            {
                "symbol": pa.array(list(vocab), pa.string()),
                "corpus_count": pa.array(list(vocab.values()), pa.int64()),
            }
        )
    elif emit == "lexicon":
        out = pa.table(
            {
                "token": pa.array([w[0] for w in words], pa.string()),
                "encoding": pa.array([w[2] for w in words], pa.string()),
            }
        )
    else:
        k, a, b, c = zip(*merges) if merges else ((), (), (), ())
        out = pa.table(
            {
                "merge_rank": pa.array(k, pa.int32()),
                "left_sym": pa.array(a, pa.string()),
                "right_sym": pa.array(b, pa.string()),
                "pair_count": pa.array(c, pa.int64()),
            }
        )
    return word_freq.sparkSession.createDataFrame(out)


def bpe_train(
    word_freq: DataFrame,
    rounds: int = 6,
    tok_col: str = "tok",
    count_col: str = "c",
    emit: str = "merges",
) -> DataFrame:
    """Multi-round BPE tokenizer TRAINING (Sennrich et al. 2016) over a
    word-frequency table — the full iterative merge loop, not just the
    one-step pair census ``bpe_merge_candidates`` scores.  Returns the
    learned merge table ``(merge_rank, left_sym, right_sym,
    pair_count)``, one row per round: the artifact a tokenizer ships.
    With ``emit="vocab"`` it instead returns the POST-training subword
    inventory ``(symbol, corpus_count)`` — every symbol of the final
    encodings, weighted by word frequency: the trained tokenizer
    applied corpus-wide in the same plan.  With ``emit="lexicon"`` it
    returns ``(token, encoding)`` — every vocabulary word with its
    final bracket-encoded subword segmentation: the SERVING artifact
    (encode the vocab once, broadcast-join it onto the corpus token
    stream — how production tokenizers amortize at 100 TB).

    Each word is encoded as bracket-delimited symbols
    (``low`` → ``<l><o><w>``); a round is (1) adjacent-pair census
    weighted by word frequency, (2) global argmax with the
    deterministic tie-break highest count → lexicographically smallest
    (left, right) via a single ``min(struct(-count, left, right))``
    partial-aggregable struct ordering (the same trick the SimHash
    vote and LPA argmax use — no window, no nondeterministic
    ``first()``), (3) apply the merge to every encoding with a literal
    ``replace``.  Leftmost non-overlapping literal replacement IS the
    BPE greedy left-to-right merge scan, and the bracket delimiters
    make a pair occurrence unambiguous (no token-boundary false
    matches, no overlapping-match drift), so the loop is string/
    integer-exact and the unrolled-CTE DuckDB oracle replays every
    round bit-for-bit.

    The defining scale property is inherited from the word-frequency
    reduction: training touches |vocab| rows per round (each weighted
    by its corpus count), never the token stream, so a 100 TB corpus
    costs one token census plus rounds × vocab-sized passes.  Per
    round: one explode + two partial aggregations + a 1-row broadcast
    join; the vocab relation is checkpointed per round (it is
    vocab-sized, small by contract) so plan depth stays constant —
    the same envelope as :func:`~spark_streaming_kafka2elasticsearch_spark.operators.dedup.pagerank`.

    Executes eagerly (rounds are inherently sequential: round k's
    census reads round k-1's merged encodings).  Callers needing the
    final encodings can re-apply the returned merges in order.
    """
    fast = _bpe_train_local_or_none(
        word_freq, rounds, tok_col, count_col, emit
    )
    if fast is not None:
        return fast
    enc = F.expr(
        f"concat_ws('', transform(sequence(1, length({tok_col})),"
        f" i -> concat('<', substring({tok_col}, i, 1), '>')))"
    )
    # Guard the operator contract (arbitrary word-frequency input):
    # for '' Spark's sequence(1, 0) is the DESCENDING [1, 0], which
    # would fabricate a '<><>' encoding whose empty-symbol pairs can
    # win a merge round; empty words carry no pairs by definition.
    words = (
        word_freq.filter(F.length(tok_col) > 0)
        .select(
            F.col(tok_col).alias("_tok"),
            F.col(count_col).alias("_c"),
            enc.alias("_enc"),
        )
        .localCheckpoint(eager=True)
    )
    merge_rows = []
    for k in range(1, rounds + 1):
        syms = F.expr("split(substring(_enc, 2, length(_enc) - 2), '><')")
        pair_census = (
            words.select(syms.alias("_s"), "_c")
            .filter(F.size("_s") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(_s) - 1),"
                        " i -> struct(_s[i-1] AS a, _s[i] AS b))"
                    )
                ).alias("_p"),
                "_c",
            )
            .groupBy("_p.a", "_p.b")
            .agg(F.sum("_c").alias("cnt"))
        )
        best = (
            pair_census.select(
                F.struct(
                    (-F.col("cnt")).alias("nc"), F.col("a"), F.col("b")
                ).alias("_m")
            )
            .agg(F.min("_m").alias("_m"))
            .select(
                F.lit(k).alias("merge_rank"),
                F.col("_m.a").alias("left_sym"),
                F.col("_m.b").alias("right_sym"),
                (-F.col("_m.nc")).alias("pair_count"),
            )
            .localCheckpoint(eager=True)  # 1 row; forces the round
        )
        merge_rows.append(best)
        nxt = (
            words.crossJoin(
                F.broadcast(best.select("left_sym", "right_sym"))
            )
            .select(
                "_tok",
                "_c",
                F.expr(
                    "replace(_enc,"
                    " concat('<', left_sym, '><', right_sym, '>'),"
                    " concat('<', left_sym, right_sym, '>'))"
                ).alias("_enc"),
            )
            .localCheckpoint(eager=True)
        )
        words.unpersist()
        words = nxt
    if emit == "vocab":
        for m in merge_rows:  # 1-row driver artifacts, not the result here
            m.unpersist()
        syms = F.expr("split(substring(_enc, 2, length(_enc) - 2), '><')")
        vocab = (
            words.select(F.explode(syms).alias("symbol"), "_c")
            .groupBy("symbol")
            .agg(F.sum("_c").alias("corpus_count"))
        )
        # The final words relation is already materialized (checkpoint
        # at loop exit); the vocab agg is lazy over it — callers own
        # release, same contract as the merge path's eager rows.
        return vocab
    if emit == "lexicon":
        for m in merge_rows:  # 1-row driver artifacts, not the result here
            m.unpersist()
        return words.select(
            F.col("_tok").alias("token"), F.col("_enc").alias("encoding")
        )
    words.unpersist()
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


def token_budget_select(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    score_col: str = "score",
    weight_col: str = "n_tokens",
    n_buckets: int = 1024,
) -> DataFrame:
    """Budget-constrained corpus selection WITHOUT a global sort: the
    documents that a greedy fill in ``(score DESC, id)`` order admits
    before the cumulative ``weight_col`` (inclusive) exceeds
    ``budget`` — "fill a 1T-token training budget with the best
    documents", the terminal step of every curation pipeline.

    The naive spelling is a running sum over a GLOBAL window — a
    single-partition sort of the whole corpus, the one shape that
    cannot scale.  This operator gets the identical result set in two
    bounded phases:

    1. **Bucket histogram** — scores are binned into ``n_buckets``
       monotone buckets (min/max from a 1-row aggregate, broadcast
       back in-plan); per-bucket weight sums make a ``n_buckets``-row
       relation whose descending cumulative sum is a window over a
       small-by-contract table (1024 rows, one partition — the same
       contract as the RFM percentile cutoffs).
    2. **Boundary refinement** — every bucket whose inclusive
       cumulative total fits the budget is admitted whole; exactly ONE
       bucket straddles the cut, and only ITS members (expected
       n/n_buckets rows — size ``n_buckets`` so this fits an
       executor) pay a partitioned running-sum window against the
       remaining budget.  Buckets past the boundary are dropped by a
       non-positive remainder, never scanned.

    Equivalence to the global greedy order is exact, not approximate:
    bucketing is monotone in score, so "higher bucket" implies "higher
    score"; the within-bucket order is the same ``(score DESC, id)``;
    and the admit rule composes ``before-bucket + within-bucket``
    cumulative weight ≤ budget.  Bucket-assignment float rounding is
    internal only — it moves WHERE the boundary window runs, never the
    result — so the output is engine-independent and fully
    oracle-checkable against the naive global-window SQL.
    """
    from pyspark.sql.window import Window

    lo_hi = df.agg(
        F.min(score_col).alias("_lo"), F.max(score_col).alias("_hi")
    )
    span = F.col("_hi") - F.col("_lo")
    b = df.crossJoin(F.broadcast(lo_hi)).withColumn(
        "_bkt",
        # NULL scores get a dedicated bucket BELOW every real one: the
        # naive global window's ``score DESC`` orders NULLS LAST
        # (Spark's default for DESC), so NULL-scored rows are admitted
        # only after every scored row, budget permitting — without
        # this branch the bucket expression is NULL and the equi-join
        # on _bkt silently DROPS them, breaking the documented exact
        # equivalence.  min/max skip NULLs, so lo/hi stay correct.
        F.when(F.col(score_col).isNull(), F.lit(-1))
        .when(span == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor(
                    (F.col(score_col) - F.col("_lo")) / span * n_buckets
                ),
            )
        )
        .cast("int"),
    )
    hist = b.groupBy("_bkt").agg(F.sum(weight_col).alias("_w"))
    desc_cum = (
        Window.orderBy(F.col("_bkt").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    labeled = (
        hist.withColumn("_cum", F.sum("_w").over(desc_cum))
        .select(
            "_bkt",
            (F.col("_cum") <= budget).alias("_full"),
            (F.lit(budget) - (F.col("_cum") - F.col("_w"))).alias(
                "_remaining"
            ),
        )
    )
    j = b.join(F.broadcast(labeled), "_bkt")
    admitted_whole = j.filter(F.col("_full"))
    within = (
        Window.partitionBy("_bkt")
        .orderBy(F.col(score_col).desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    boundary = (
        # ``>= 0`` not ``> 0``: when the admitted buckets exhaust the
        # budget EXACTLY, the straddling bucket's zero-weight greedy
        # head is still admitted by the naive rule (cum stays == B),
        # and ``_run <= 0`` admits precisely that zero-weight prefix.
        j.filter((~F.col("_full")) & (F.col("_remaining") >= 0))
        .withColumn("_run", F.sum(weight_col).over(within))
        .filter(F.col("_run") <= F.col("_remaining"))
    )
    return admitted_whole.select(id_col, score_col, weight_col).unionByName(
        boundary.select(id_col, score_col, weight_col)
    )


def ranked_bucket_labels(
    df: DataFrame,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
    id_col: str = "doc_id",
    score_col: str = "score",
    part_col: str | None = None,
    n_buckets: int = 1024,
) -> DataFrame:
    """Assign every row its CCNet-style rank bucket — ``head`` =
    best ``n div B`` rows by ``(score DESC, id)``, ``middle`` = the
    next ``n div B``, tail = the rest (thresholds ``i·(n div B)``,
    remainder absorbed by the last label) — WITHOUT the global sort
    the naive ``row_number() OVER (ORDER BY score DESC)`` spelling
    pays, optionally per ``part_col`` partition (CCNet buckets per
    language).

    Same two-phase discipline as :func:`token_budget_select`, with a
    labeling twist: scores bin into ``n_buckets`` monotone buckets;
    the per-(part, bucket) COUNT histogram (a small-by-contract
    relation) gets a descending cumulative count, which decides each
    bucket's label WHOLESALE whenever no rank threshold falls
    strictly inside its ``(prev_cum, cum)`` rank interval.  Only the
    ≤ ``B−1`` straddling buckets per partition pay a within-bucket
    rank window (expected n/n_buckets rows), whose offset global rank
    ``prev_cum + rank_in_bucket`` feeds the identical threshold CASE.

    Equivalence to the naive global rank is exact: equal scores land
    in the same bin (so cross-bin score order is strict), the
    within-bin order is the same ``(score DESC, id)``, and thresholds
    are pure integer arithmetic.  NULL scores take a dedicated bucket
    below every real one — the naive window's ``DESC NULLS LAST``
    order — so they label last, never drop.

    Output: ``(id_col, [part_col,] score_col, bucket)``.
    """
    from pyspark.sql.window import Window

    n_labels = len(labels)
    if n_labels < 2:
        raise ValueError(f"need >= 2 labels, got {labels!r}")
    parts = [part_col] if part_col else []

    stats = df.groupBy(*parts).agg(
        F.min(score_col).alias("_lo"),
        F.max(score_col).alias("_hi"),
        F.count(F.lit(1)).alias("_n"),
    )
    joined = (
        df.join(F.broadcast(stats), parts)
        if parts
        else df.crossJoin(F.broadcast(stats))
    )
    span = F.col("_hi") - F.col("_lo")
    b = joined.withColumn(
        "_bkt",
        F.when(F.col(score_col).isNull(), F.lit(-1))
        .when(span == 0, F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_buckets - 1),
                F.floor((F.col(score_col) - F.col("_lo")) / span * n_buckets),
            )
        )
        .cast("int"),
    )
    hist = b.groupBy(*parts, "_bkt", "_n").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    desc_cum = (
        Window.partitionBy(*parts)
        .orderBy(F.col("_bkt").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = F.expr(f"_n div {n_labels}")
    # straddle iff some threshold i*base (i = 1..B-1) lies STRICTLY
    # inside the bucket's (prev_cum, cum) rank interval
    labeled = (
        hist.withColumn("_cum", F.sum("_cnt").over(desc_cum))
        .withColumn("_prev", F.col("_cum") - F.col("_cnt"))
        .withColumn(
            "_straddles",
            F.exists(
                F.sequence(F.lit(1), F.lit(n_labels - 1)),
                lambda i: (i * base > F.col("_prev"))
                & (i * base < F.col("_cum")),
            ),
        )
    )

    def label_case(rank_col: Column) -> Column:
        out = F.lit(labels[-1])
        for i in range(n_labels - 1, 0, -1):
            out = F.when(rank_col <= i * base, F.lit(labels[i - 1])).otherwise(
                out
            )
        return out

    j = b.join(
        F.broadcast(labeled.select(*parts, "_bkt", "_prev", "_straddles")),
        parts + ["_bkt"],
    )
    whole = j.filter(~F.col("_straddles")).withColumn(
        # any rank in the interval labels identically; cum = prev+cnt
        # is in-interval, but prev+1 is cheaper to carry
        "bucket",
        label_case(F.col("_prev") + 1),
    )
    within = Window.partitionBy(*parts, "_bkt").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col)
    )
    straddling = (
        j.filter(F.col("_straddles"))
        .withColumn("_r", F.col("_prev") + F.row_number().over(within))
        .withColumn("bucket", label_case(F.col("_r")))
    )
    cols = [id_col, *parts, score_col, "bucket"]
    return whole.select(*cols).unionByName(straddling.select(*cols))


def bpe_encode_with_lexicon(
    docs: DataFrame,
    lexicon: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode documents against a PRE-TRAINED BPE lexicon
    (``(token, encoding)`` from :func:`bpe_train` ``emit="lexicon"``):
    ``(id, n_subwords, subwords)`` with each document's subword
    sequence reassembled in (token position, subword position) order.
    The serving half of the tokenizer split: training is vocab-sized,
    this pass is ONE broadcast hash join over the (doc, pos, token)
    stream plus a partial-agg groupBy whose order is restored by
    array_sort on carried positions — never a global sort.  Tokens
    absent from the lexicon are dropped by the inner join (they were
    outside the trained vocabulary).  Shared verbatim by the batch
    query (``bpe_encode_documents``) and the streaming tokenize gate
    (streaming/jobs.tokenize_ingest_stream) — streaming = batch,
    per micro-batch."""
    rel = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("_i", "_tok"),
    )
    sub = rel.join(
        F.broadcast(lexicon), rel["_tok"] == lexicon["token"]
    ).select(
        id_col,
        "_i",
        F.posexplode(
            F.expr("split(substring(encoding, 2, length(encoding) - 2), '><')")
        ).alias("_j", "_sym"),
    )
    return sub.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_subwords"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_j", "_sym"))),
                lambda x: x["_sym"],
            ),
            " ",
        ).alias("subwords"),
    )


def _dsir_feature_buckets(
    df: DataFrame,
    keep: list,
    text_col: str,
    n_buckets: int,
) -> DataFrame:
    """Shared DSIR featurizer: hashed unigram+bigram buckets, counted
    with multiplicity — (keep-cols…, _b).  One explode pass; the
    md5-byte bucketing is the cross-engine fingerprint idiom."""
    if not 1 <= n_buckets <= 65536:
        raise ValueError("n_buckets must be in [1, 65536] (md5 two-byte bucketing)")
    t = tokens(F.col(text_col))
    base = df.select(*keep, t.alias("_t"))
    names = base.columns[:-1]
    uni = base.select(*names, F.explode("_t").alias("_feat"))
    bi = base.filter(F.size("_t") >= 2).select(
        *names,
        F.explode(
            F.zip_with(
                F.expr("slice(_t, 1, size(_t) - 1)"),
                F.expr("slice(_t, 2, size(_t) - 1)"),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("_feat"),
    )
    # Two md5 bytes (4 hex chars → 0..65535) before the modulus, so
    # every n_buckets ≤ 65536 actually populates its full range — one
    # byte would silently cap the hash space at 256 and mis-spread the
    # Laplace mass for anything larger.
    return uni.unionByName(bi).select(
        *names,
        (
            F.conv(F.substring(F.md5("_feat"), 1, 4), 16, 10).cast("int")
            % n_buckets
        ).alias("_b"),
    )


def dsir_fit_weights(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR FIT: the per-bucket log-ratio weight table (_b, _w) —
    log p_target[b] − log p_raw[b] under Laplace-smoothed hashed
    unigram+bigram models, fit from one featurized pass with
    conditional partial-agg sums.  The returned relation is
    ``n_buckets`` rows — the build-once broadcast artifact a serving
    or streaming scorer applies (see dsir_score_with_weights and
    streaming/jobs.dsir_gate_stream)."""
    feats = _dsir_feature_buckets(
        df, [is_target.alias("_tgt")], text_col, n_buckets
    )
    # Both models fit in ONE pass: conditional partial-agg sums.
    counts = feats.groupBy("_b").agg(
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).cast("long").alias("_ct"),
        F.sum(F.when(~F.col("_tgt"), 1).otherwise(0)).cast("long").alias("_cr"),
    )
    spine = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("_b")
    )
    # N_target / N_raw as UNPARTITIONED window sums over the (B-row)
    # bucket table — one global partition of 256 rows is free, and it
    # keeps the fit subtree with exactly ONE consumer (a separate
    # `counts.agg()` + crossJoin would re-execute the whole corpus
    # explode for the scalar).
    wspec = Window.partitionBy()
    cs = spine.join(counts, "_b", "left").select(
        "_b",
        F.coalesce("_ct", F.lit(0).cast("long")).alias("_ct"),
        F.coalesce("_cr", F.lit(0).cast("long")).alias("_cr"),
    )

    def _lp(c: Column, n: Column) -> Column:
        num = (c + 1).cast("double")
        den = (n + n_buckets).cast("double")
        return F.round(F.log(num / den), 9).cast("decimal(28,10)")

    return cs.select(
        "_b",
        (
            _lp(F.col("_ct"), F.sum("_ct").over(wspec))
            - _lp(F.col("_cr"), F.sum("_cr").over(wspec))
        ).alias("_w"),
    )


def dsir_score_with_weights(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR SCORE: apply a fitted (_b, _w) weight table to any
    documents relation → (id_col, n_feats, dsir_logratio).  One
    featurize pass + a broadcast join against the B-row artifact +
    a partial-agg per-doc reduce; the decimal weight sum is exact, so
    scores are partition-order-proof.  ``n_buckets`` MUST equal the
    value the weight table was fit with: the fit's spine is dense, so
    a mismatch joins cleanly and silently scores against the wrong
    model rows (the streaming gate validates ``weights.count() ==
    n_buckets`` at setup; direct callers own the same check).  Used by the batch query AND
    per micro-batch by the streaming ingestion gate — streaming =
    batch, by construction."""
    feats = _dsir_feature_buckets(docs, [F.col(id_col)], text_col, n_buckets)
    return (
        feats.join(F.broadcast(weights), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(
                F.sum("_w").cast("string").cast("double") / F.count(F.lit(1)), 6
            ).alias("dsir_logratio"),
        )
    )


def dsir_logratio_scores(
    df: DataFrame,
    is_target: Column,
    id_col: str,
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    score every RAW document by how target-like its hashed n-gram
    profile is, ``log p_target(doc) − log p_raw(doc)`` under two
    bag-of-hashed-features unigram models.  Output: (id_col, n_feats,
    dsir_logratio) for documents where ``is_target`` is false — the
    rows a selection pass would rank and resample from.

    Composed fit → score (each independently reusable): the fit is
    :func:`dsir_fit_weights` (a B-row broadcast artifact), the scorer
    is :func:`dsir_score_with_weights`.  Features are the paper's:
    unigrams AND bigrams, hashed into ``n_buckets`` buckets (md5 first
    byte pair — cross-engine), counted WITH multiplicity; both models
    are Laplace-smoothed bucket distributions.

    Cross-engine float discipline (the unigram_logprob recipe): each
    bucket's log-ratio is the DIFFERENCE OF TWO DECIMALS, each
    ``round(ln(count-ratio), 9)`` cast to DECIMAL(28,10) — ln operands
    are identical single IEEE divisions, Java log vs DuckDB ln probed
    ≤ 4.5e-16 apart, the 9-dp round absorbs it, and decimal
    subtraction/summation is exact, so the per-doc sum cannot depend
    on partition order.  Final mean is one IEEE divide + 6-dp round.

    Scale shape: the fit is ONE explode → 256-row partial aggregate
    (both sides counted in the same pass via conditional sums); the
    weight table is B rows — a plan-broadcast join back onto the raw
    side's feature stream; the per-doc reduce is partial-agg friendly.
    Two corpus-sized passes total (fit + score), zero global sorts —
    exactly how DSIR runs over a 100 TB crawl: the model is a tiny
    artifact, the corpus is only ever streamed."""
    w = dsir_fit_weights(df, is_target, text_col, n_buckets)
    return dsir_score_with_weights(
        df.filter(~is_target), w, id_col, text_col, n_buckets
    )


def dsir_oracle_sql(
    is_target_sql: str,
    id_col: str,
    text_col: str = "text",
    n_buckets: int = 256,
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`dsir_logratio_scores`, generated from the
    same bucket count and target predicate so model and oracle cannot
    drift.  Same md5-byte bucketing, same Laplace smoothing, same
    decimal-difference log-ratio recipe."""
    if not 1 <= n_buckets <= 65536:
        raise ValueError(
            "n_buckets must be in [1, 65536] (md5 two-byte bucketing) — "
            "same guard as the Spark featurizer, so the twins cannot drift"
        )
    b = n_buckets
    return f"""
WITH d AS (
  SELECT {id_col}, ({is_target_sql}) AS tgt,
         list_filter(string_split_regex({text_col}, '\\s+'), x -> x <> '') AS t
  FROM {table}
),
uni AS (SELECT {id_col}, tgt, unnest(t) AS feat FROM d),
bi AS (
  SELECT {id_col}, tgt,
         unnest(list_transform(
           generate_series(1, len(t) - 1),
           i -> concat(t[i], ' ', t[i + 1])
         )) AS feat
  FROM d WHERE len(t) >= 2
),
feats AS (
  SELECT {id_col}, tgt,
         CAST(concat('0x', substr(md5(feat), 1, 4)) AS INTEGER) % {b} AS b
  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
),
counts AS (
  SELECT b,
         CAST(count(*) FILTER (tgt) AS BIGINT) AS ct,
         CAST(count(*) FILTER (NOT tgt) AS BIGINT) AS cr
  FROM feats GROUP BY b
),
spine AS (SELECT unnest(generate_series(0, {b - 1})) AS b),
cs AS (
  SELECT spine.b, coalesce(ct, CAST(0 AS BIGINT)) AS ct,
         coalesce(cr, CAST(0 AS BIGINT)) AS cr
  FROM spine LEFT JOIN counts ON spine.b = counts.b
),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM cs),
w AS (
  SELECT b,
         CAST(round(ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + {b} AS DOUBLE)), 9)
              AS DECIMAL(28,10))
       - CAST(round(ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + {b} AS DOUBLE)), 9)
              AS DECIMAL(28,10)) AS w
  FROM cs, tot
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_feats,
       round(CAST(CAST(sum(w) AS VARCHAR) AS DOUBLE) / count(*), 6) AS dsir_logratio
FROM feats JOIN w USING (b)
WHERE NOT tgt
GROUP BY {id_col}
"""


def bm25_scores(
    docs: DataFrame,
    query_docs: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_doc_id",
) -> DataFrame:
    """Okapi BM25 lexical relevance — the OTHER half of retrieval (the
    ANN family serves the dense half): for each query document, score
    every corpus document by

        Σ_{t ∈ q}  idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))

    with the Robertson idf ``ln((N − df + 0.5)/(df + 0.5) + 1)``.
    Query terms are the query document's DISTINCT tokens (standard
    BM25 treats the query as a term set); self-matches are excluded by
    the caller's ranking.

    Cross-engine float discipline (the unigram_logprob recipe): each
    per-term score is computed in ONE expression shape — idf and the
    tf component are plain IEEE ops on identical operands (Java
    Math.log vs DuckDB ln probed ≤ 4.5e-16 apart) — then
    ``round(·, 9)`` and summed in exact DECIMAL(28,10), so the
    per-(query, doc) total is partition-order-proof and ranking on it
    is exact in any engine.

    Scale shape: the corpus is exploded ONCE into (doc, tok) counts;
    tf, df, and doc length are vocabulary/corpus-sized partial aggs
    (the tfidf silhouette); the corpus stats (N, avgdl) arrive as a
    1-row broadcast scalar; the query term set is small BY CONTRACT
    and broadcast onto the tf stream, so the scored relation is
    |matching (query, doc, term)| — an inverted-index join, never a
    doc × query cross product.  At 100 TB the only corpus-sized
    exchange is the (doc, tok) aggregate.

    Output: ``(query_doc_id, doc_id, score)`` — score is the exact
    decimal sum surfaced as DOUBLE via the varchar round-trip, plus
    ``score_dec`` (the decimal itself) for exact downstream ranking.
    """
    from spark_streaming_kafka2elasticsearch_spark.functions.text import tokens

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    stats = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    qterms = query_docs.select(
        F.col(id_col).alias(query_id),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).distinct()
    return bm25_scores_from_stats(
        tf, doclen, df_t, stats, qterms, k1=k1, b=b,
        id_col=id_col, query_id=query_id,
    )


def bm25_scores_from_stats(
    tf: DataFrame,
    doclen: DataFrame,
    df_t: DataFrame,
    stats: DataFrame,
    qterms: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    query_id: str = "query_doc_id",
) -> DataFrame:
    """The BM25 scoring core over PRE-COMPUTED relations — factored out
    of :func:`bm25_scores` so the at-rest inverted index
    (operators/bm25_index) serves with the IDENTICAL expression
    shapes (idf, tf component, round-9, DECIMAL(28,10) sum) and its
    results stay bit-equal to the from-scratch operator and its
    DuckDB oracle.  Inputs: ``tf (id, tok, tf)``, ``doclen (id, dl)``,
    ``df_t (tok, df)``, ``stats`` (1 row: n_docs DOUBLE, avgdl
    DOUBLE), ``qterms (query_id, tok)``."""
    term = (
        tf.join(F.broadcast(qterms), "tok")
        .join(df_t, "tok")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfd = F.col("tf").cast("double")
    comp = (
        tfd
        * F.lit(k1 + 1.0)
        / (
            tfd
            + F.lit(k1)
            * (
                F.lit(1.0 - b)
                + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
    )
    per_term = F.round(idf * comp, 9).cast("decimal(28,10)")
    return (
        term.select(query_id, id_col, per_term.alias("_s"))
        .groupBy(query_id, id_col)
        .agg(F.sum("_s").alias("score_dec"))
        .select(
            query_id,
            id_col,
            "score_dec",
            F.col("score_dec").cast("string").cast("double").alias("score"),
        )
    )


def query_likelihood_scores(
    docs: DataFrame,
    query_docs: DataFrame,
    mu: float = 2000.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id: str = "query_doc_id",
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001) — the language-modeling third of the lexical
    retrieval triad (BM25 = probabilistic, QL = generative):

        score(q, d) = Σ_{t ∈ q} qtf(t) · ln P_μ(t | d),
        P_μ(t | d)  = (tf(t, d) + μ·cf(t)/|C|) / (|d| + μ)

    computed in the standard matched-terms decomposition — only
    (query-term, doc) postings pay a join, every other term folds
    into one per-doc constant:

        Σ_matched qtf·ln(1 + tf/(μ·cf/|C|))  +  |q|·ln(μ/(|d| + μ))

    The emitted score is this decomposed form, which differs from the
    exact ln-likelihood by the document-INDEPENDENT query constant
    ``Σ_{t∈q} qtf·ln(cf/|C|)`` — the textbook rank-equivalent scoring
    function (rankings are identical; a test verifies the shift).

    Docs sharing no term with the query score only the constant and
    are excluded (standard candidate-from-postings practice; both
    engines agree by the same inner join).

    Float discipline (the bm25_scores recipe): each matched term and
    the per-doc constant are ONE IEEE expression shape rounded to
    9 dp into DECIMAL(28,10); the per-(query, doc) total is an exact
    decimal sum plus one exact decimal add — partition-order-proof,
    bit-replayable.  μ = 2000 is exactly representable.

    Scale shape: identical silhouette to bm25_scores — the (doc, tok)
    aggregate is the one corpus-sized exchange; cf and |C| are
    vocabulary-sized / scalar broadcasts; the query term set is small
    BY CONTRACT and broadcast; cost is Σ matching postings.

    Output: ``(query_doc_id, doc_id, score_dec, score)``.
    """
    from spark_streaming_kafka2elasticsearch_spark.functions.text import tokens

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("cf"))
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("t_tokens"))
    qterms = query_docs.select(
        F.col(id_col).alias(query_id),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).groupBy(query_id, "tok").agg(
        F.count(F.lit(1)).cast("double").alias("qtf")
    )
    qlen = qterms.groupBy(query_id).agg(
        F.sum("qtf").cast("double").alias("qlen")
    )

    mu_lit = F.lit(float(mu))
    term = (
        tf.join(F.broadcast(qterms), "tok")
        .join(cf, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            query_id,
            id_col,
            F.round(
                F.col("qtf")
                * F.log(
                    F.lit(1.0)
                    + F.col("tf").cast("double")
                    / (mu_lit * (F.col("cf") / F.col("t_tokens")))
                ),
                9,
            )
            .cast("decimal(28,10)")
            .alias("sterm"),
        )
    )
    matched = (
        term.filter(F.col(query_id) != F.col(id_col))
        .groupBy(query_id, id_col)
        .agg(F.sum("sterm").alias("msum"))
    )
    const = F.round(
        F.col("qlen")
        * F.log(mu_lit / (F.col("dl").cast("double") + mu_lit)),
        9,
    ).cast("decimal(28,10)")
    return (
        matched.join(doclen, id_col)
        .join(F.broadcast(qlen), query_id)
        .select(
            query_id,
            id_col,
            (F.col("msum") + const).alias("score_dec"),
        )
        .select(
            query_id,
            id_col,
            "score_dec",
            F.col("score_dec").cast("string").cast("double").alias("score"),
        )
    )


def kn_bigram_model(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Interpolated Kneser–Ney bigram MODEL statistics (Chen & Goodman
    1999, eq. 4.24; fixed discount D = 0.75), one row per observed
    bigram type: ``(w1, w2, c2, c1, n1f, n1b, n_types)`` — everything
    the per-document scorer needs to evaluate

        P_KN(w2|w1) = (c2 − D)/c1 + (D·n1f/c1)·(n1b/n_types)

    without re-touching the corpus.  Same float discipline as the
    oracle-green ``kneser_ney_bigram_scores`` query: all operands are
    exact integer-valued doubles, so downstream probability
    expressions are cross-engine exact given identical shape.

    100 TB shape: ONE corpus scan builds the (w1, w2, c2) relation and
    :func:`kn_model_from_counts` derives fw/bw/|types| from that one
    evaluation (vocabulary-sized windows and a one-row aggregate).  The result
    is a maintained model artifact: fit on a curation cadence, served
    to batch and streaming scorers alike (the dsir_fit_weights
    doctrine)."""
    return kn_model_from_counts(bigram_count_relation(docs, text_col))


_BIGRAM_PAIRS = (
    "CASE WHEN size(tokens) >= 2"
    " THEN CAST(arrays_zip(slice(tokens, 1, size(tokens) - 1),"
    " slice(tokens, 2, size(tokens) - 1)) AS array<struct<w1:string,w2:string>>)"
    " ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
)


def bigram_pairs() -> Column:
    """The adjacent-token pairs of the ``tokens`` array column as
    ``struct(w1, w2)``, one element per bigram INSTANCE (position).
    The token array zipped with itself shifted by one — generated
    code, no UDF, no self-join of the token stream, and no lambda: a
    ``transform`` over the positions is interpreted per element, and
    cost the KN append gate's scoring about 9% more.  ``slice(t, 1,
    -1)`` throws on a negative length, so a document with fewer than 2
    tokens gets an empty array explicitly (explode then drops it, like
    the oracles' ``len >= 2`` guard).  One SQL string: one py4j round
    trip to build, where the same tree of ``F.*`` calls makes one per
    node."""
    return F.expr(_BIGRAM_PAIRS)


def _bigram_rows(docs: DataFrame, text_col: str, *keep: str) -> DataFrame:
    """``(*keep, w1, w2)``, one row per bigram instance of each
    document's ``text_col``: tokens, then ``inline`` of
    :func:`bigram_pairs` — two analysed ops where the explode and
    field reads were three."""
    cols = [f"`{c}`" for c in keep]
    return docs.selectExpr(*cols, f"{tokens_sql(text_col)} AS tokens").selectExpr(
        *cols, f"inline({_BIGRAM_PAIRS})"
    )


def bigram_count_relation(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The ``(w1, w2, c2)`` bigram count relation — the ONE corpus
    scan every bigram-LM artifact derives from, factored out so the
    at-rest LM index (operators/lm_index) computes delta segments
    with the identical expression shapes."""
    return (
        _bigram_rows(docs, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )


def kn_model_from_counts(bgf: DataFrame) -> DataFrame:
    """KN model statistics from a ``(w1, w2, c2)`` count relation —
    the derivation half of :func:`kn_bigram_model`, shared with the
    at-rest LM index so a model served from maintained count segments
    is bit-equal to one fit from scratch (fw/bw/|types| are pure
    functions of the merged counts).

    ``bgf`` is evaluated ONCE.  c1 and n1f are window aggregates over
    ``w1`` and n1b one over ``w2``, each a hash-partitioned,
    vocabulary-sized stage; joining grouped aggregates back would
    re-run ``bgf`` (and the scan under it) per aggregate, because the
    join's inferred ``isnotnull`` filters and column pruning make
    their exchanges differ.  n_types is a one-row aggregate over
    ``bgf``, broadcast back: it counts the types with ``c2 > 0``
    (every type of a count relation), and reading ``c2`` keeps
    ``bgf``'s own aggregate from being pruned, so the exchange under
    it is the model's and Spark reuses it — a partial count per
    partition, never every bigram type in one task.  Every statistic
    is an exact integer sum, so window and grouped forms agree bit
    for bit."""
    by_w1 = Window.partitionBy("w1")
    one = F.count(F.lit(1))
    n_types = bgf.agg(
        F.count_if(F.col("c2") > 0).cast("double").alias("n_types")
    )
    return bgf.select(
        "w1",
        "w2",
        "c2",
        F.sum("c2").over(by_w1).cast("double").alias("c1"),
        one.over(by_w1).cast("double").alias("n1f"),
        one.over(Window.partitionBy("w2")).cast("double").alias("n1b"),
    ).crossJoin(F.broadcast(n_types))


#: ``0.75D`` is a double literal; a bare ``0.75`` is a decimal in SQL
_KN_PROBABILITY = (
    "(CAST(c2 AS DOUBLE) - 0.75D) / c1 + n1f * 0.75D / c1 * (n1b / n_types)"
)


def kn_probability() -> Column:
    """``P_KN(w2|w1)`` over a :func:`kn_bigram_model` row, in the one
    operand order both engines evaluate identically (left to right:
    one subtract, three divides, two multiplies, one add)."""
    return F.expr(_KN_PROBABILITY)


#: ``round(ln(P_KN), 9)`` as DECIMAL(28,10) over a model row: the term
#: each instance of that bigram adds to its document's sum
_KN_TERM = f"CAST(round(ln({_KN_PROBABILITY}), 9) AS DECIMAL(28,10))"

#: ``kn_nll`` over :func:`kn_fitted_doc_sums`' columns
KN_NLL = "round(-CAST(_s AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 9)"


def kn_doc_scores(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-DOCUMENT Kneser–Ney LM score — the CCNet-style production
    use of the bigram LM (VERDICT r11 item 7): a document's quality
    signal is its average negative log-probability under the model
    (``kn_nll`` — the log of perplexity; thresholding either is the
    same gate, and staying in log space keeps every operand in the
    engine-probed cross-exact class: ln yes, exp no).

    Per bigram INSTANCE (position) in the doc, the interpolated KN
    probability is evaluated from the joined model row, then
    ``round(ln(p), 9)`` is staged as ``DECIMAL(28,10)`` so the
    per-doc sum is order-independent (the query_likelihood decimal
    discipline); ``kn_nll = round(−sum/n_matched, 9)``.

    OOV contract: bigram instances with no model row (impossible when
    the model was fit on the same corpus; routine for a streaming doc
    against a static model) are EXCLUDED from the sum and counted in
    ``n_oov``; a document with zero matched bigrams (< 2 tokens, or
    fully OOV) has no defined score and produces NO row — the DSIR
    featureless-doc contract: such a doc never passes a quality gate
    by fabricated score.

    Output: ``(doc_id, n_bigrams, n_oov, kn_nll)``.  One doc-side
    scan; the model joins in vocabulary-sized (broadcast when AQE
    finds it under the broadcast threshold, a shuffle join otherwise).
    The term is taken per instance, after the join: the streaming gate
    joins each small micro-batch to a corpus-sized model, where a term
    per model row costs more (a 40-document batch against a 780k-row
    model, 4 cores: 1.14 s with the term per model row, 0.95 s per
    instance).  For a model fit on the documents it scores,
    :func:`kn_fitted_doc_sums` is cheaper.
    """
    terms = (
        _bigram_rows(docs, text_col, id_col)
        .join(model, ["w1", "w2"], "left")
        .selectExpr(
            f"`{id_col}`",
            "c2",
            f"CASE WHEN c2 IS NOT NULL THEN {_KN_TERM} END AS _term",
        )
    )
    return _kn_sums(terms, id_col).selectExpr(
        f"`{id_col}`", "n_bigrams", "n_oov", f"{KN_NLL} AS kn_nll"
    )


def kn_fitted_doc_sums(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`kn_doc_scores` before its last projection, for a model
    fit on ``docs`` themselves (the batch KN gates):
    ``(doc_id, n_bigrams, n_oov, _s)``, where :data:`KN_NLL` turns the
    decimal sum ``_s`` into ``kn_nll``, so a caller that adds columns
    over the score projects once, not twice.  Such a model has no more
    rows than ``docs`` have bigram instances, so the term is taken once
    per model row, before the join: the KN append gate on the
    benchmark's 5 000-document table, 4 cores, ran in 0.62 s this way
    and 0.67 s with the term per instance.  An unmatched instance joins
    a NULL ``c2`` and a NULL term."""
    terms = model.selectExpr("w1", "w2", "c2", f"{_KN_TERM} AS _term")
    joined = _bigram_rows(docs, text_col, id_col).join(
        terms, ["w1", "w2"], "left"
    )
    return _kn_sums(joined, id_col)


def _kn_sums(terms: DataFrame, id_col: str) -> DataFrame:
    """Per document of ``terms`` (one row per bigram instance, with the
    model's ``c2`` and the instance's ``_term``, both NULL when OOV):
    matched and OOV counts and the term sum, documents with a match
    only."""
    agg = terms.groupBy(id_col).agg(
        F.expr("count(_term) AS n_bigrams"),
        F.expr("CAST(sum(CAST(c2 IS NULL AS INT)) AS BIGINT) AS n_oov"),
        F.expr("sum(_term) AS _s"),
    )
    return agg.filter("n_bigrams > 0")

"""Parse + curate operators (SURVEY.md §2.2, P1–P15).

The reference's curated-orders path: cast the Kafka ``value`` to
string (reference ``bexley_spark_stream_msk_es.py:298``), parse with a
declared schema (``:325``), flatten (``:328``), derive business columns
(``:393-401``), optionally explode the basket (``:353-364``).  Every
function here is a pure ``DataFrame -> DataFrame`` transform — the
design the reference says it wanted for unit-testability
(``:374-377``) — and works identically on batch and streaming frames,
which is what lets us test streaming semantics with batch oracles.

All expressions are built-in Catalyst functions (zero UDFs), so the
whole path stays inside WholeStageCodegen and scales linearly with
input: no shuffle exists anywhere in parse→curate (narrow transforms
only), so at 100 TB this pipeline is embarrassingly parallel over
input splits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import top_k_per
from spark_streaming_kafka2elasticsearch_spark.schemas import ORDER_EVENT_SCHEMA

# ---------------------------------------------------------------------------
# P1–P3: bytes → string → parsed struct → flat columns
# ---------------------------------------------------------------------------


def cast_value_to_string(df: DataFrame, column: str = "value") -> DataFrame:
    """P1 — binary Kafka payload → UTF-8 string (reference ``:298``)."""
    return df.select(F.col(column).cast(T.StringType()).alias(column))


def parse_json_events(
    df: DataFrame,
    schema: T.StructType = ORDER_EVENT_SCHEMA,
    column: str = "value",
    drop_malformed: bool = False,
) -> DataFrame:
    """P2+P3 — ``from_json`` with a declared schema, then flatten.

    PERMISSIVE semantics (the reference's de-facto bad-record policy,
    ``:325``): a malformed record parses to an all-null row rather than
    failing.  ``drop_malformed=True`` additionally filters malformed
    records out, detected via the standard ``columnNameOfCorruptRecord``
    channel — the lossless default mirrors the reference.
    """
    if drop_malformed:
        corrupt = "_corrupt_record"
        # Copy, don't .add(): StructType.add mutates in place and would
        # permanently append _corrupt_record to the shared module-global
        # ORDER_EVENT_SCHEMA for every later caller in the process.
        schema_with_corrupt = T.StructType(
            list(schema.fields) + [T.StructField(corrupt, T.StringType(), True)]
        )
        parsed = df.select(
            F.from_json(
                F.col(column),
                schema_with_corrupt,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
            ).alias("event")
        )
        parsed = parsed.filter(F.col(f"event.{corrupt}").isNull())
        return parsed.select("event.*").drop(corrupt)
    parsed = df.select(F.from_json(F.col(column), schema).alias("event"))
    return parsed.select("event.*")


def parse_with_dead_letter(
    df: DataFrame,
    schema: T.StructType = ORDER_EVENT_SCHEMA,
    column: str = "value",
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter routing: parse once, split into (good, bad).

    ``good`` = flattened rows that parsed cleanly; ``bad`` = the RAW
    payload plus an ``error_kind`` tag for rows that did not — the
    quarantine stream a production pipeline lands in its dead-letter
    topic/table for replay after a schema fix (the reference silently
    null-fills these; a 100 TB ingest cannot afford silent data loss).

    Works identically under batch and foreachBatch.  Note the upstream
    frame is consumed by BOTH outputs — under streaming each side is
    its own sink/query; under batch, persist ``df`` first if it is
    expensive to recompute.
    """
    corrupt = "_corrupt_record"
    schema_with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(corrupt, T.StringType(), True)]
    )
    parsed = df.select(
        F.col(column).alias("_raw"),
        F.from_json(
            F.col(column),
            schema_with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt},
        ).alias("event"),
    )
    is_bad = F.col(f"event.{corrupt}").isNotNull() | F.col("event").isNull()
    good = parsed.filter(~is_bad).select("event.*").drop(corrupt)
    bad = parsed.filter(is_bad).select(
        F.col("_raw").alias("raw_payload"),
        F.when(F.col("event").isNull(), F.lit("unparseable"))
        .otherwise(F.lit("schema_mismatch"))
        .alias("error_kind"),
    )
    return good, bad


# ---------------------------------------------------------------------------
# P7–P11: derived business columns
# ---------------------------------------------------------------------------


def discounted_total(
    total: Column | str = "order_total", discount_pct: Column | str = "discount_applied"
) -> Column:
    """P7 — net total: ``total - (pct/100) * total`` (reference ``:395``)."""
    total_col = F.col(total) if isinstance(total, str) else total
    pct_col = F.col(discount_pct) if isinstance(discount_pct, str) else discount_pct
    return total_col - (pct_col / F.lit(100.0)) * total_col


def data_key(
    order_number: Column | str = "order_number", order_date: Column | str = "order_date"
) -> Column:
    """P8+P9 — idempotency key ``order_number-YYYY-MM-DD`` (reference ``:396``).

    This is the document identity used by the upsert sink
    (``es.mapping.id`` at reference ``:515``) — at-least-once delivery
    plus this key is the reference's effectively-once story.
    """
    num_col = F.col(order_number) if isinstance(order_number, str) else order_number
    date_col = F.col(order_date) if isinstance(order_date, str) else order_date
    return F.concat_ws("-", num_col, F.substring(date_col, 1, 10))


def fulfilment_type(order_number: Column | str = "order_number") -> Column:
    """P10 — CASE WHEN on the 6th char of the order number (reference ``:400``).

    '3' ⇒ fulfilled by 'Bexley', else 'Merchant'.  (The reference names
    the output column ``fufilment_type`` [sic]; callers choose the alias.)
    """
    num_col = F.col(order_number) if isinstance(order_number, str) else order_number
    return F.when(F.substring(num_col, 6, 1) == "3", F.lit("Bexley")).otherwise(
        F.lit("Merchant")
    )


def curate_orders(df: DataFrame) -> DataFrame:
    """P7–P11 composed — the reference's ``transform_json_message``
    output projection (``bexley_spark_stream_msk_es.py:393-401``):
    ``order_number, discounted_total, data_key, ship_to_city_id,
    order_date, ship_method, fufilment_type`` (spelling kept [sic] for
    drop-in parity).
    """
    return df.select(
        F.col("order_number"),
        discounted_total().alias("discounted_total"),
        data_key().alias("data_key"),
        F.col("ship_to_city_id"),
        F.col("order_date"),
        F.col("ship_method"),
        fulfilment_type().alias("fufilment_type"),
    )


# ---------------------------------------------------------------------------
# P4–P6: basket explode + narrow projection
# ---------------------------------------------------------------------------


def explode_basket(
    df: DataFrame, basket_col: str = "order_basket", outer: bool = False
) -> DataFrame:
    """P4+P5 — one output row per basket line item (reference ``:353``).

    Inner explode drops rows with null/empty baskets (the reference's
    behavior); ``outer=True`` switches to ``explode_outer`` — the
    lossless variant SURVEY.md flags as worth exposing.  The struct is
    flattened to scalar columns (reference ``:359-361``).
    """
    explode_fn = F.explode_outer if outer else F.explode
    exploded = df.select("*", explode_fn(F.col(basket_col)).alias("basket_exp"))
    return (
        exploded.select("*", "basket_exp.order_qty", "basket_exp.product_id", "basket_exp.is_discounted")
        .drop("basket_exp", basket_col)
    )


def products_sold(df: DataFrame) -> DataFrame:
    """P6 — the narrow products-sold view (reference ``:361-364``):
    who bought what, one row per line item.  Expects an exploded frame.
    """
    return df.select("customer_id", "order_number", "product_id", "order_qty")


# ---------------------------------------------------------------------------
# P12–P14: casts, drops, sampling
# ---------------------------------------------------------------------------


def cast_to_timestamp(df: DataFrame, column: str, fmt: str | None = None) -> DataFrame:
    """P12 — late string→timestamp cast (reference ``:446``).

    With ``fmt`` uses ``to_timestamp`` (explicit, preferred at ingest);
    without, a plain cast — the reference's exact behavior.
    """
    if fmt is not None:
        return df.withColumn(column, F.to_timestamp(F.col(column), fmt))
    return df.withColumn(column, F.col(column).cast(T.TimestampType()))


def deterministic_sample(df: DataFrame, one_in: int, key: str) -> DataFrame:
    """P14 (engine variant) — reproducible row sampling.

    The reference previews with ``df.sample(0.08)`` (``:242,273``) which
    is seed-dependent; for oracle-checkable pipelines we sample by hash
    of a key column instead: stable across engines, runs, and partition
    layouts, and it pushes down as a cheap filter.
    """
    return df.filter(F.pmod(F.xxhash64(F.col(key)), F.lit(one_in)) == 0)


def weighted_reservoir_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    id_col: str = "doc_id",
    strata: list[str] | None = None,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exact size k (per
    stratum) — Efraimidis & Spirakis' A-Res (IPL 2006): each row draws
    a uniform ``u`` and keeps key ``u^(1/w)``; the k largest keys are a
    weighted-without-replacement sample.  This is the quality-weighted
    data-selection primitive the Bernoulli hash-sampler
    (:func:`deterministic_sample`) and the temperature mixer cannot
    express: EXACTLY k rows, inclusion probability increasing in the
    weight, no replacement.

    Determinism + oracle-replayability: ``u`` is derived from md5 of
    the id (first 12 hex chars as a 48-bit integer, ``(h + 0.5)/2^48``
    — never 0 or 1), and the key is kept in LOG form
    ``round(ln(u)/w, 9)`` — same ordering as ``u^(1/w)`` (both strictly
    increasing transforms for w > 0), but ``ln`` is the engine-probed
    ≤ 4.5e-16 cross-engine class while ``pow`` is not; the 9-dp round
    kills the ulp, and residual ties break on the id.  One corpus
    scan and one per-stratum top-k cut
    (:func:`~.partitioning.top_k_per`) like every other top-k — no
    global sort.

    Output: the ``strata`` columns + (id, weight, ares_key, rank).
    """
    strata = list(strata or [])
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(2**48))
    key = F.round(F.log(u) / weight.cast("double"), 9)
    scored = df.select(
        *strata,
        F.col(id_col),
        weight.cast("double").alias("weight"),
        key.alias("ares_key"),
    )
    return top_k_per(
        scored, strata, [F.desc("ares_key"), F.asc(id_col)], k
    ).select(*strata, id_col, "weight", "ares_key", F.col("rank").cast("int").alias("rank"))

"""Extended analytics surface — aggregations, joins, windows, JSON.

Beyond reference parity (the reference has one join and one windowed
count), these are the operators any user of an analytics engine needs;
each is a Catalyst-native plan designed to survive 100×: decimal-exact
partial aggregation (map-side combine before the shuffle), semi/anti
joins instead of distinct-then-join, broadcast dims, rank-filter
pushdown via window functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_kafka2elasticsearch_spark.operators.joins import anti_join, semi_join
from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import top_k_per
from spark_streaming_kafka2elasticsearch_spark.queries import load_table, register

_DEC = T.DecimalType(28, 10)


def _dsum(col: F.Column, alias: str) -> F.Column:
    """Order-independent money sum: exact DECIMAL accumulation,
    surfaced as double.  A raw double sum would depend on partition
    order and flake the cross-engine hash check.  Scale 10 (not 2!):
    at scale 2 a double sitting near a cent midpoint rounds HALF_UP in
    Spark but half-even in DuckDB; at scale 10 the conversion is
    unambiguous for |x| < ~10⁶ (double ulp ≪ half-step), so both
    engines produce the identical decimal."""
    return F.sum(col.cast(_DEC)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Q: pricing summary (TPC-H Q1 shape) — the headline bench aggregation
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle="""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS VARCHAR)
       AS DOUBLE) AS sum_disc_price,
  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,10)))
       AS VARCHAR) AS DOUBLE) AS sum_charge,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-agg friendly: 6 aggregates over 2 grouping keys — the
    shuffle carries |flags|×|statuses| partial rows per task, not data."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    ext, disc, tax, qty = (
        F.col("l_extendedprice"),
        F.col("l_discount"),
        F.col("l_tax"),
        F.col("l_quantity"),
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(qty, "sum_qty"),
        _dsum(ext, "sum_base_price"),
        _dsum(ext * (1 - disc), "sum_disc_price"),
        _dsum(ext * (1 - disc) * (1 + tax), "sum_charge"),
        (F.sum(qty.cast(_DEC)).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


# ---------------------------------------------------------------------------
# Q: revenue by nation (TPC-H Q5 shape) — the multi-join bench query
# ---------------------------------------------------------------------------


@register(
    "revenue_by_nation",
    oracle="""
SELECT n.n_name AS nation,
       CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10)))
            AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
""",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⋈orders shuffles on orderkey (the only big–big join);
    customer and nation are broadcast — no shuffle of the fact side on
    custkey/nationkey.  AQE handles skew if a customer dominates."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Q: semi / anti joins
# ---------------------------------------------------------------------------


@register(
    "customers_with_open_orders",
    oracle="""
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
""",
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi — EXISTS without materializing the join (no fact-side
    row duplication, dedup for free)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return semi_join(c, o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "customers_without_orders",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return anti_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Q: analytic window functions (rank within partition)
# ---------------------------------------------------------------------------


@register(
    "top_orders_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number + rank filter — one shuffle on the partition key; the
    tie-break on o_orderkey makes the result deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return top_k_per(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3, "rn"
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


# ---------------------------------------------------------------------------
# Q: distinct aggregates
# ---------------------------------------------------------------------------


@register(
    "order_status_distinct_customers",
    oracle="""
SELECT o_orderstatus,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders GROUP BY o_orderstatus
""",
)
def order_status_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct (expand + two-phase agg under the hood).  At
    100 TB prefer approx_count_distinct — exposed as the _approx twin
    below (rows-only check: HLL results are engine-specific)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# no oracle: HLL is engine-specific; <10% relative error vs the exact
# twin is asserted in tests/test_operators.py
# (test_approx_queries_error_bounds_vs_exact_twins)
@register("order_status_distinct_customers_approx")
def order_status_distinct_customers_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey").alias("n_customers_approx"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Q: rollup (multi-level aggregation)
# ---------------------------------------------------------------------------


@register(
    "lineitem_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity"), "sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Q: JSON property extraction (events.props — exercises the MapType/JSON
# surface the reference imported but never used, SURVEY §1.3)
# ---------------------------------------------------------------------------


@register(
    "events_json_props",
    oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       count(*) AS n_events
FROM events GROUP BY event_type
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("int")).alias("sum_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "event_value_histogram",
    oracle="""
WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
SELECT CASE WHEN hi = lo THEN 0
            ELSE CAST(least(CAST(floor((value - lo) / ((hi - lo) / 20)) AS INT),
                            19) AS INT)
       END AS bin,
       CAST(count(*) AS BIGINT) AS n_events
FROM events, b
GROUP BY 1
""",
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of event values — the data-profiling
    distribution scan.  Two-pass shape: min/max collapse map-side to a
    1-row broadcast scalar, then binning is a codegen'd projection
    feeding one partial-agg groupBy of ≤20 groups — profiling a 100 TB
    column costs two scans and shuffles 20 rows.  Bin arithmetic is
    the identical IEEE expression on both engines (max value clamped
    into the last bin by least())."""
    ev = load_table(spark, sf_dir, "events").select("value")
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(20)
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
                F.lit(19),
            )
        )
        .alias("bin")
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_events"))


@register(
    "events_variant_props",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
         AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER)
         AS max_k,
       CAST(count(CASE WHEN json_extract_string(props, '$.missing') IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_with_missing
FROM events GROUP BY event_type
""",
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    ``parse_json`` once into an open-schema variant, then typed
    ``try_variant_get`` extractions — the schema-on-read path for
    payloads whose shape drifts (vs events_json_props' per-field
    string re-parse).  At scale VARIANT wins because the binary
    encoding parses the JSON text exactly once per row and pushes
    shredded-field access down to the scan; absent paths yield NULL
    (n_with_missing pins that contract).  Oracle: DuckDB
    json_extract over the same text."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.try_variant_get("v", "$.k", "int")
    missing = F.try_variant_get("v", "$.missing", "string")
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
        F.count(missing).alias("n_with_missing"),
    )


# ---------------------------------------------------------------------------
# Q: set ops + dedup of rows
# ---------------------------------------------------------------------------


@register(
    "active_parties_union",
    oracle="""
SELECT nation_key, party FROM (
  SELECT DISTINCT c_nationkey AS nation_key, 'customer' AS party FROM customer
  UNION ALL
  SELECT DISTINCT s_nationkey AS nation_key, 'supplier' AS party FROM supplier
)
""",
)
def active_parties_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation_key"), F.lit("customer").alias("party")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nation_key"), F.lit("supplier").alias("party")
    )
    return c.distinct().unionAll(s.distinct())


@register(
    "nation_party_setops",
    oracle="""
SELECT nation_key, 'both' AS membership FROM (
  SELECT c_nationkey AS nation_key FROM customer
  INTERSECT
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT nation_key, 'customer_only' AS membership FROM (
  SELECT c_nationkey AS nation_key FROM customer
  EXCEPT
  SELECT s_nationkey FROM supplier
)
""",
)
def nation_party_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT coverage (set semantics — Spark's intersect()
    and exceptAll()'s distinct sibling subtract()): nations having both
    customers and suppliers vs customer-only nations.  Physically both
    are aggregate-style shuffles on the key, never row-by-row scans."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation_key")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nation_key")
    )
    both = c.intersect(s).withColumn("membership", F.lit("both"))
    only_c = c.subtract(s).withColumn("membership", F.lit("customer_only"))
    return both.unionAll(only_c)


@register(
    "pii_scrub_stats",
    oracle="""
WITH synth AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-0' || CAST(doc_id % 1000 AS VARCHAR)
           AS dirty
  FROM documents
),
scrubbed AS (
  SELECT doc_id, dirty,
         regexp_replace(
           regexp_replace(dirty,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>',
             'g'),
           '\\+?[0-9][0-9-]{7,}', '<PHONE>', 'g') AS clean
  FROM synth
)
SELECT doc_id,
       length(dirty) - length(clean) AS bytes_removed,
       CAST(len(regexp_extract_all(clean, '<EMAIL>')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(clean, '<PHONE>')) AS INTEGER) AS n_phones
FROM scrubbed
""",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the corpus-sanitization pass every training-data
    pipeline runs before anything else.  The synthetic corpus has no
    real PII, so the query PLANTS a deterministic email + phone per doc
    (same construction in both engines), scrubs with Java/RE2-common
    regexes, and emits audit counts.  All codegen'd regexp ops — the
    100 TB cost is one narrow map over the text column."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-0"),
        (F.col("doc_id") % 1000).cast("string"),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
    phone_re = r"\+?[0-9][0-9-]{7,}"
    synth = docs.select("doc_id", dirty.alias("dirty"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("dirty"), email_re, "<EMAIL>"),
        phone_re,
        "<PHONE>",
    )
    scrubbed = synth.select("doc_id", "dirty", clean.alias("clean"))
    return scrubbed.select(
        "doc_id",
        (F.length("dirty") - F.length("clean")).alias("bytes_removed"),
        F.size(F.regexp_extract_all("clean", F.lit("<EMAIL>"), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("clean", F.lit("<PHONE>"), 0)).alias("n_phones"),
    )


@register(
    "window_functions_showcase",
    oracle="""
SELECT o_custkey, o_orderkey,
       row_number() OVER w AS rn,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       lag(o_orderkey) OVER w AS prev_order,
       lead(o_orderkey) OVER w AS next_order,
       ntile(4) OVER w AS quartile,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10)))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE)
         AS running_spend,
       first_value(o_orderkey) OVER w AS first_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
""",
)
def window_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window family in one oracle-checked projection:
    ranking (row_number/rank/dense_rank), navigation (lag/lead/
    first_value), distribution (ntile), and a decimal-exact running
    sum.  One shuffle on the partition key serves every function —
    Spark evaluates all frames over a single sorted partition pass.
    Ordering by the unique o_orderkey makes every output
    deterministic; the running sum uses the same DECIMAL(28,10)
    discipline as the money aggregates."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.ntile(4).over(w).alias("quartile"),
        F.sum(F.col("o_totalprice").cast(_DEC)).over(wrun).cast("double").alias(
            "running_spend"
        ),
        F.first("o_orderkey").over(w).alias("first_order"),
    )


@register(
    "events_props_map_keys",
    oracle="""
SELECT event_type, k AS prop_key, count(*) AS n
FROM (SELECT event_type, unnest(json_keys(props)) AS k FROM events)
GROUP BY event_type, k
""",
)
def events_props_map_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType coverage (imported but never used by the reference,
    SURVEY §1.3): the JSON props column parsed as ``map<string,string>``
    — the schema for semi-structured payloads whose keys aren't known
    up front — then key-exploded and counted.  One narrow map + one
    partial-agg shuffle."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    return (
        ev.select("event_type", F.explode(F.map_keys(m)).alias("prop_key"))
        .groupBy("event_type", "prop_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "sql_region_revenue",
    oracle="""
SELECT r.r_name AS region,
       CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10)))
            AS VARCHAR) AS DOUBLE) AS revenue,
       count(DISTINCT s.s_suppkey) AS n_suppliers
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name
""",
)
def sql_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the engine's tables registered as temp views
    and the query expressed as a ``spark.sql`` string — same Catalyst
    plan as the DataFrame API (views are just named plans), proving a
    reference user can bring raw SQL unchanged.  Cross-engine decimal
    discipline applies inside the SQL text exactly as in DataFrame
    code."""
    for t in ["lineitem", "supplier", "nation", "region"]:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT r.r_name AS region,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(28,10))) AS DOUBLE) AS revenue,
               count(DISTINCT s.s_suppkey) AS n_suppliers
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        GROUP BY r.r_name
        """
    )


@register(
    "salted_brand_revenue",
    oracle="""
SELECT p.p_brand,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,10))) AS VARCHAR)
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
""",
)
def salted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew-buster join, driver-checked for result
    equivalence: the oracle is the PLAIN join, so hash equality proves
    salting changes only the shuffle distribution (each hot part key
    spreads across 8 salt partitions at map time), never the rows.
    See operators/joins.salted_equi_join for when to prefer this over
    AQE's after-the-fact skew split."""
    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        salted_equi_join,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_equi_join(li, p, "l_partkey", "p_partkey", salt_buckets=8)
    return joined.groupBy("p_brand").agg(
        _dsum(F.col("l_extendedprice"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "small_qty_order_revenue",
    oracle="""
WITH cuts AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_brand,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(28,10))) AS VARCHAR)
            AS DOUBLE) / 7.0 AS avg_yearly,
       count(*) AS n_small
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN cuts c ON c.l_partkey = l.l_partkey
WHERE l.l_quantity < c.qty_cut
GROUP BY p.p_brand
""",
)
def small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar aggregate subquery
    ("below 20% of this part's average quantity"), decorrelated into a
    per-part aggregate + join, which is exactly what a correlated
    subquery must become at scale (one extra shuffle on l_partkey,
    AQE-sized).  Comparison determinism across engines: l_quantity is
    integral, so the double average is an exact-integer sum in ANY
    order / either engine, making the 0.2·avg threshold bit-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cuts = li.groupBy(F.col("l_partkey").alias("c_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    dec = T.DecimalType(28, 10)
    joined = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(cuts, li.l_partkey == F.col("c_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
    )
    return joined.groupBy("p_brand").agg(
        (F.sum(F.col("l_extendedprice").cast(dec)).cast("double") / 7.0).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_small"),
    )


@register(
    "events_last_error_asof",
    oracle="""
SELECT a.event_id, b.event_id AS last_error_event_id,
       b.value AS last_error_value
FROM (SELECT * FROM events WHERE event_type <> 'error') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') b
  ON a.user_id = b.user_id AND b.ts < a.ts
""",
)
def events_last_error_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward AS-OF join: every non-error event enriched with the
    user's most recent STRICTLY-earlier error event — the
    point-in-time-correct enrichment primitive (no future leakage).
    Spark side is the single-shuffle union+sort+running-last shape
    (operators/joins.asof_join_backward); the oracle is DuckDB's
    native ASOF LEFT JOIN, an independent implementation of the same
    semantics.  (user_id, ts) is unique in the corpus, so the match is
    engine-order deterministic; the payload is copied, not computed,
    so the value hash is exact."""
    from spark_streaming_kafka2elasticsearch_spark.operators.joins import (
        asof_join_backward,
    )

    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "error").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("err_ts"),
        F.col("event_id").alias("last_error_event_id"),
        F.col("value").alias("last_error_value"),
    )
    out = asof_join_backward(
        left,
        right,
        on=["user_id"],
        left_ts="ts",
        right_ts="err_ts",
        payload_cols=["last_error_event_id", "last_error_value"],
        strict=True,
        tie_col="last_error_event_id",
    )
    return out.select("event_id", "last_error_event_id", "last_error_value")


@register(
    "customer_rfm_scores",
    oracle="""
WITH cust AS (
  SELECT o_custkey,
         CAST(max(date_diff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT)
           AS recency_day,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(28,10))) AS VARCHAR)
              AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT quantile_cont(CAST(recency_day AS DOUBLE), 0.25) AS r1,
         quantile_cont(CAST(recency_day AS DOUBLE), 0.50) AS r2,
         quantile_cont(CAST(recency_day AS DOUBLE), 0.75) AS r3,
         quantile_cont(CAST(frequency AS DOUBLE), 0.25) AS f1,
         quantile_cont(CAST(frequency AS DOUBLE), 0.50) AS f2,
         quantile_cont(CAST(frequency AS DOUBLE), 0.75) AS f3,
         quantile_cont(monetary, 0.25) AS m1,
         quantile_cont(monetary, 0.50) AS m2,
         quantile_cont(monetary, 0.75) AS m3
  FROM cust
)
SELECT o_custkey, recency_day, frequency, monetary,
       CAST(1 + CAST(recency_day >= r1 AS INT) + CAST(recency_day >= r2 AS INT)
              + CAST(recency_day >= r3 AS INT) AS BIGINT) AS r_score,
       CAST(1 + CAST(frequency >= f1 AS INT) + CAST(frequency >= f2 AS INT)
              + CAST(frequency >= f3 AS INT) AS BIGINT) AS f_score,
       CAST(1 + CAST(monetary >= m1 AS INT) + CAST(monetary >= m2 AS INT)
              + CAST(monetary >= m3 AS INT) AS BIGINT) AS m_score
FROM cust, cuts
""",
)
def customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile scores per
    customer — the classic CRM segmentation.  Deliberately NOT
    ``ntile``: a global ntile would funnel every customer through one
    SinglePartition window, the shape the plan tests ban.  Instead the
    quartile CUTOFFS are computed once on the aggregated relation
    (``percentile`` ≡ DuckDB ``quantile_cont`` bit-for-bit — the
    module invariant) and broadcast back as a 1-row scalar, so scoring
    is a parallel projection.  Semantic difference vs ntile, accepted
    on purpose: ties at a cutoff share a score instead of being split
    to equalize bucket sizes — for segmentation that is the BETTER
    behavior (equal values must not land in different segments).
    Money sums are decimal-exact before the double conversion."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")))
        .cast("long")
        .alias("recency_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast(_DEC))
        .cast("string")
        .cast("double")
        .alias("monetary"),
    )
    cuts = cust.agg(
        *[
            F.percentile(F.col(c).cast("double"), F.lit(q)).alias(f"{c[0]}{i}")
            for c in ("recency_day", "frequency", "monetary")
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )

    def score(col: str, pfx: str) -> F.Column:
        v = F.col(col)
        return (
            1
            + (v >= F.col(f"{pfx}1")).cast("long")
            + (v >= F.col(f"{pfx}2")).cast("long")
            + (v >= F.col(f"{pfx}3")).cast("long")
        )

    return cust.join(F.broadcast(cuts)).select(
        "o_custkey",
        "recency_day",
        "frequency",
        "monetary",
        score("recency_day", "r").alias("r_score"),
        score("frequency", "f").alias("f_score"),
        score("monetary", "m").alias("m_score"),
    )


# ---------------------------------------------------------------------------
# Q: join-size audit — predicted join cardinality WITHOUT running the join
# ---------------------------------------------------------------------------


@register(
    "join_size_audit",
    oracle="""
WITH o AS (SELECT o_orderkey AS k, count(*) AS n FROM orders GROUP BY 1),
l AS (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1)
SELECT
  CAST(sum(o.n * l.n) AS BIGINT) AS predicted_rows,
  CAST(count(*) AS BIGINT) AS matched_keys,
  CAST(max(o.n * l.n) AS BIGINT) AS max_key_fanout
FROM o JOIN l USING (k)
""",
)
def join_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact join-output cardinality for orders ⋈ lineitem on the
    order key, computed WITHOUT executing the join: |A ⋈ B| =
    Σ_k cnt_A(k)·cnt_B(k) over the two per-key count tables.  The
    statistics pass a planner (or a capacity review before a 100 TB
    backfill) runs first — the per-key count tables are partial-agg
    reductions of each side (the shuffle carries one row per DISTINCT
    key, not per row), their join is distinct-key-sized, and
    ``max_key_fanout`` is the skew red flag: one key whose product
    dominates predicted_rows is exactly the key that will strand the
    real join's longest task (see salted_equi_join for the cure).
    The prediction is exact for inner equi-joins, making it
    test-verifiable against the materialized join count."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    o = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_o")
    )
    li = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_l")
    )
    prod = F.col("n_o") * F.col("n_l")
    return o.join(li, "k").agg(
        F.sum(prod).cast("long").alias("predicted_rows"),
        F.count(F.lit(1)).cast("long").alias("matched_keys"),
        F.max(prod).cast("long").alias("max_key_fanout"),
    )

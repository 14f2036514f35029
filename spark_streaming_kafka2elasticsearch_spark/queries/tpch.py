"""Classic TPC-H-shape decision-support queries, adapted to the test
star schema (which omits ``partsupp``, comments, phones and the
commit/receipt date pair — adaptations are noted per query).

These widen the engine's OLAP surface beyond the reference's single
streaming pipeline: multi-way joins with broadcast dims, correlated
EXISTS / NOT EXISTS via semi/anti joins, scalar subqueries, HAVING
pushups, disjunctive cross-table predicates, CTE + global-max
selection, and deterministic top-k.  Every money aggregate uses the
exact DECIMAL(28,10) accumulation from ``analytics._dsum`` so results
hash-match the DuckDB oracles bit-for-bit.

Scale notes (100 TB): lineitem⋈orders is the only big–big join in any
of these and always shuffles on the order key; every other side is a
filtered dim small enough to broadcast (nation/region/supplier always;
part after its predicate).  Aggregations are partial-agg friendly —
grouping keys are low-cardinality or already co-partitioned with the
preceding join's shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_streaming_kafka2elasticsearch_spark.operators.joins import anti_join, semi_join
from spark_streaming_kafka2elasticsearch_spark.operators.partitioning import top_k_per
from spark_streaming_kafka2elasticsearch_spark.queries import load_table, register
from spark_streaming_kafka2elasticsearch_spark.queries.analytics import _DEC, _dsum

_REV = "CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"


def _revenue() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# ---------------------------------------------------------------------------
# Q3 — shipping priority: top unshipped-revenue orders for one segment
# ---------------------------------------------------------------------------


@register(
    "shipping_priority",
    oracle=f"""
SELECT l.l_orderkey,
       {_REV} AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
FROM customer c
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-03-15'
  AND l.l_shipdate  > TIMESTAMP '1997-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (o_shippriority column absent → dropped).  The segment
    filter reduces customer before its broadcast; both date filters
    push to the parquet scans.  Top-10 is deterministic because the
    revenue sum is decimal-exact and ties break on the order key."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-03-15"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-03-15"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_dsum(_revenue(), "revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q4 — order priority checking (late-shipment EXISTS)
# ---------------------------------------------------------------------------


@register(
    "order_priority_late_ship",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""",
)
def order_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4, late-ness re-expressed as ship > order + 30 days (the
    schema has no commit/receipt dates).  EXISTS compiles to a
    left-semi join on the order key — lineitem is never duplicated
    into the aggregate, and the quarter filter prunes orders first."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = semi_join(
        o,
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


# ---------------------------------------------------------------------------
# Q5 — local supplier volume (customer and supplier in the same nation)
# ---------------------------------------------------------------------------


@register(
    "local_supplier_volume",
    oracle=f"""
SELECT n.n_name AS nation, {_REV} AS revenue
FROM customer c
JOIN orders o   ON o.o_custkey  = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey  = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 proper — distinct from ``revenue_by_nation`` by the
    same-nation constraint (s_nationkey = c_nationkey), which turns the
    supplier side into a second broadcast equi-key rather than a new
    shuffle.  region→nation reduces to a ≤25-row broadcast before any
    fact row is touched."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(asia_nations), s.s_nationkey == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(_dsum(_revenue(), "revenue"))
    )


# ---------------------------------------------------------------------------
# Q6 — forecasting revenue change (pure scan-side filter + one sum)
# ---------------------------------------------------------------------------


@register(
    "forecast_revenue_change",
    oracle="""
SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,10)))
     AS VARCHAR) AS DOUBLE) AS revenue_delta,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
""",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: everything is a pushed-down scan predicate; the plan
    is scan → partial sum → single-row exchange.  At 100 TB this is
    the query whose cost IS the parquet filter efficiency."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.04, 0.06))
        & (F.col("l_quantity") < 24)
    ).agg(
        _dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations, by year and direction
# ---------------------------------------------------------------------------


@register(
    "volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       {_REV} AS revenue
FROM supplier s
JOIN lineitem l ON l.l_suppkey  = s.s_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey  = o.o_custkey
JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_9'  AND n2.n_name = 'NATION_11')
    OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_9'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
""",
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: the nation dim is joined twice under different roles
    (supplier's vs customer's) — aliased broadcasts, not a self-join
    shuffle.  The two-nation disjunction is applied after both
    broadcasts resolve, where it is a cheap codegen'd predicate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("_n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("_n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("_n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("_n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_9")
                & (F.col("cust_nation") == "NATION_11")
            )
            | (
                (F.col("supp_nation") == "NATION_11")
                & (F.col("cust_nation") == "NATION_9")
            )
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(_dsum(_revenue(), "revenue"))


# ---------------------------------------------------------------------------
# Q8 — national market share within a region for one part type
# ---------------------------------------------------------------------------


@register(
    "national_market_share",
    oracle="""
SELECT o_year,
       CAST(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_9' THEN volume ELSE 0 END
                          AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
     / CAST(CAST(sum(CAST(volume AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
       AS mkt_share
FROM (
  SELECT year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON l.l_partkey  = p.p_partkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey  = o.o_custkey
  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = n2.n_regionkey
  JOIN supplier s ON s.s_suppkey  = l.l_suppkey
  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'AMERICA'
    AND p.p_type = 'PROMO'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate <  TIMESTAMP '1998-01-01'
) all_nations
GROUP BY o_year
""",
)
def national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of a region's PROMO-part revenue,
    per year.  Both sums are decimal-exact and the share is the single
    double division of their surfaced values — the only FP op, applied
    in the same order by both engines.  part is broadcast AFTER its
    type filter (1/6th selectivity)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust_nations = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("_cn_key")
    )
    supp_nations = n.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    base = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_nations), c.c_nationkey == F.col("_cn_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_nations), s.s_nationkey == F.col("_sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _revenue().alias("volume"),
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_9", F.col("volume"))
        .otherwise(F.lit(0))
        .cast(_DEC)
    ).cast("double")
    den = F.sum(F.col("volume").cast(_DEC)).cast("double")
    return base.groupBy("o_year").agg((num / den).alias("mkt_share"))


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting: top customers by returned revenue
# ---------------------------------------------------------------------------


@register(
    "returned_item_reporting",
    oracle=f"""
SELECT c.c_custkey, c.c_name,
       {_REV} AS revenue,
       c.c_acctbal,
       n.n_name AS nation
FROM customer c
JOIN orders o   ON o.o_custkey  = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def returned_item_reporting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (address/phone/comment columns absent → dropped).
    returnflag + quarter filters push to the scans; the group-by keys
    ride along from the customer broadcast, so the only shuffle is the
    lineitem⋈orders key and the final small aggregate."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation"))
        .agg(_dsum(_revenue(), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (left outer + double agg)
# ---------------------------------------------------------------------------


@register(
    "customer_order_distribution",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) per_cust
GROUP BY c_count
""",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (the comment NOT-LIKE filter becomes a priority
    exclusion).  The join predicate's extra condition lives in the ON
    clause — a WHERE would turn the left join inner.  count(col)
    counts non-null matches, so no-order customers land in c_count=0.
    Second aggregate is over ≤ |customer| rows — trivially small."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (o.o_custkey == c.c_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q15 — top supplier (CTE revenue view + global-max selection)
# ---------------------------------------------------------------------------


@register(
    "top_supplier",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10)))
              AS VARCHAR) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the revenue view aggregates lineitem once; the
    global max is the scalar-subquery broadcast pattern (1-row
    aggregate cross-joined back), NOT an unpartitioned window — a
    ``Window.partitionBy()`` would funnel every supplier row onto one
    partition, the lone SinglePartition shape the plan audit used to
    flag.  Decimal-exact revenue makes the argmax deterministic."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dsum(_revenue(), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    best = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("_mx")
    )
    return (
        best.join(F.broadcast(s), best.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q18 — large-volume customers (HAVING over a key'd sum, then re-join)
# ---------------------------------------------------------------------------


@register(
    "large_volume_customer",
    oracle="""
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       o.o_totalprice,
       CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS sum_qty
FROM customer c
JOIN orders o   ON o.o_custkey  = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(28,10))) > 250
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
""",
)
def large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (threshold 250 fits this data's ~100-avg per-order
    quantity).  The IN-subquery is a semi join against the aggregated
    key set — at scale both the HAVING aggregate and the outer
    aggregate shuffle on the SAME order key, so AQE coalesces them
    into one exchange reuse.  The quantity sum is decimal-exact on
    both sides of the HAVING so the qualifying set is identical."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(_DEC)).alias("_sq"))
        .filter(F.col("_sq") > 250)
        .select(F.col("l_orderkey").alias("_big_key"))
    )
    o_big = semi_join(o, big, o.o_orderkey == F.col("_big_key"))
    return (
        li.join(o_big, li.l_orderkey == o_big.o_orderkey)
        .join(F.broadcast(c), o_big.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_dsum(F.col("l_quantity"), "sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_totalprice",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Q19 — discounted revenue (disjunctive cross-table predicate)
# ---------------------------------------------------------------------------


@register(
    "discounted_revenue",
    oracle="""
SELECT CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10)))
     AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (shipmode/shipinstruct columns absent → brand, size
    and quantity carry the disjunction).  The brand-OR collapses to a
    part-side IN prefilter (done explicitly — Catalyst's extra-
    predicate pushdown would also derive it), so the broadcast side is
    3 brands' parts, and the full disjunction evaluates codegen'd on
    the joined rows."""
    brands = ["Brand#12", "Brand#23", "Brand#34"]
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand").isin(brands))
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    cond = (
        ((brand == "Brand#12") & size.between(1, 15) & qty.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 25) & qty.between(10, 20))
        | ((brand == "Brand#34") & size.between(1, 35) & qty.between(20, 30))
    )
    return joined.filter(cond).agg(
        _dsum(_revenue(), "revenue"), F.count(F.lit(1)).alias("n_items")
    )


# ---------------------------------------------------------------------------
# Q22 — global sales opportunity (scalar subquery + NOT EXISTS)
# ---------------------------------------------------------------------------


@register(
    "global_sales_opportunity",
    oracle="""
SELECT n.n_name AS nation,
       count(*) AS numcust,
       CAST(CAST(sum(CAST(c.c_acctbal AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
         AS totacctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE c.c_acctbal > (
    SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)
           / count(*)
    FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY n.n_name
""",
)
def global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (no phone column → grouped by nation; "no orders" is
    empty on this data, so the anti join is against RECENT orders —
    dormant rich customers).  The average-balance threshold is a
    1-row broadcast cross join; it is computed as exact decimal sum ÷
    count surfaced to double, the identical single FP division in both
    engines — a plain avg(double) would be partition-order-dependent
    and flake the boundary customers."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    )
    n = load_table(spark, sf_dir, "nation")
    thresh = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("_avg_bal")
        )
    )
    rich = c.crossJoin(F.broadcast(thresh)).filter(
        F.col("c_acctbal") > F.col("_avg_bal")
    )
    dormant = anti_join(rich, o, rich.c_custkey == o.o_custkey)
    return (
        dormant.join(F.broadcast(n), dormant.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal"), "totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (double correlated EXISTS)
# ---------------------------------------------------------------------------


@register(
    "suppliers_kept_waiting",
    oracle="""
SELECT s.s_name, count(*) AS numwait
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_7'
JOIN (SELECT DISTINCT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) l1
  ON l1.l_suppkey = s.s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1
                  FROM lineitem l3
                  JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND o3.o_orderstatus = 'F'
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name
""",
)
def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers in one nation who were the SOLE
    late supplier on a multi-supplier finished order.  Adaptations
    (noted per the module contract): no l_commitdate/l_receiptdate in
    the trimmed schema, so "late" := shipped more than 60 days after
    the order date; waiting orders are counted per DISTINCT
    (order, supplier) since line-level duplicates carry no signal.

    The plan shape is the query's whole point: the two correlated
    subqueries become a **left-semi** ("some other supplier exists on
    the order") and a **left-anti** ("no other supplier was late")
    against the same derived late/pair relations — never a correlated
    per-row re-scan.  Both self-relations shuffle once on l_orderkey
    (co-partitioned with the lineitem⋈orders join that feeds them);
    supplier⋈nation is a broadcast dim chain."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_pairs = li.select(
        F.col("l_orderkey").alias("p_orderkey"), F.col("l_suppkey").alias("p_suppkey")
    ).distinct()
    has_other = late.join(
        all_pairs,
        (late.l_orderkey == all_pairs.p_orderkey)
        & (late.l_suppkey != all_pairs.p_suppkey),
        "left_semi",
    )
    late_other = late.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    sole_late = has_other.join(
        late_other,
        (has_other.l_orderkey == late_other.x_orderkey)
        & (has_other.l_suppkey != late_other.x_suppkey),
        "left_anti",
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    dim = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name"
    )
    return (
        sole_late.join(F.broadcast(dim), sole_late.l_suppkey == dim.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q12 — priority mix by return flag (conditional two-way aggregation)
# ---------------------------------------------------------------------------


@register(
    "returnflag_priority_mix",
    oracle="""
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l.l_returnflag
""",
)
def returnflag_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — the two-way conditional aggregation that
    splits line counts into high/low order-priority buckets per group.
    Adaptation (module contract): the trimmed schema has no
    ``l_shipmode``/commit/receipt dates, so the grouping key is
    ``l_returnflag`` and the shipping-year window stands in for the
    receipt-year window; the pattern under test — CASE-WHEN inside
    SUM, both branches in one pass — is Q12's whole point.

    Scale: the ship-date filter pushes to the lineitem scan, the join
    shuffles both sides on the order key once, and the conditional
    sums are partial-aggregated map-side into 3 groups — the result
    exchange carries six longs."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product-line profit by supplier nation and order year
# ---------------------------------------------------------------------------


@register(
    "product_type_profit",
    oracle=f"""
SELECT n.n_name AS nation,
       year(o.o_orderdate) AS o_year,
       {_REV} AS sum_profit
FROM part p
JOIN lineitem l ON l.l_partkey  = p.p_partkey
JOIN supplier s ON s.s_suppkey  = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY nation, o_year
""",
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit for one product line, rolled up by the
    SUPPLIER's nation and the order year.  Adaptation: no ``partsupp``
    table in the trimmed schema, so profit is the discounted revenue
    (no ``ps_supplycost`` term to subtract); the five-way join tree
    and the name-substring part filter are preserved.

    Scale: part shrinks ~8× under the LIKE filter and broadcasts, as
    do supplier and nation; lineitem⋈orders is the one big–big join,
    shuffling on the order key.  The grouping key (25 nations × ~7
    years) is tiny, so partial aggregation collapses the shuffle."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dsum(_revenue(), "sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q2 — best supplier per part (per-group top-1 via window rank)
# ---------------------------------------------------------------------------


@register(
    "top_supplier_per_part",
    oracle=f"""
SELECT p_partkey, p_name, s_name, revenue
FROM (
  SELECT p.p_partkey, p.p_name, s.s_name,
         {_REV} AS revenue,
         row_number() OVER (
           PARTITION BY p.p_partkey
           ORDER BY {_REV} DESC, s.s_suppkey
         ) AS rk
  FROM part p
  JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  WHERE p.p_size = 15
  GROUP BY p.p_partkey, p.p_name, s.s_name, s.s_suppkey
)
WHERE rk = 1
""",
)
def top_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — for each qualifying part, the single best
    supplier.  Adaptation: no ``partsupp``, so "best" is the supplier
    with the highest delivered revenue for the part rather than the
    minimum supply cost; the correlated min-subquery of the original
    is re-expressed as the idiomatic per-group top-1 window
    (row_number over a deterministic ORDER BY with the supplier key as
    tiebreak — a rank on revenue alone could flake on exact ties).

    Scale: p_size=15 keeps ~2 % of parts, broadcast after the filter;
    supplier broadcasts whole.  The aggregate and the window partition
    share the part key, so AQE reuses one shuffle for both — no
    global sort anywhere."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    grouped = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_partkey", "p_name", "s_name", "s_suppkey")
        .agg(_dsum(_revenue(), "revenue"))
    )
    return top_k_per(
        grouped, ["p_partkey"], [F.desc("revenue"), F.asc("s_suppkey")], 1, "rk"
    ).select("p_partkey", "p_name", "s_name", "revenue")


# ---------------------------------------------------------------------------
# Q11 — important parts by one nation's revenue share (scalar-subquery HAVING)
# ---------------------------------------------------------------------------


@register(
    "important_part_share",
    oracle=f"""
WITH nation_li AS (
  SELECT l.l_partkey,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,10)) AS v
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_3'
)
SELECT l_partkey,
       CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) AS part_value
FROM nation_li
GROUP BY l_partkey
HAVING CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE)
     > 0.001 * (SELECT CAST(CAST(sum(v) AS VARCHAR) AS DOUBLE) FROM nation_li)
""",
)
def important_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose value from one nation's suppliers
    exceeds a fixed fraction of that nation's total.  Adaptation: no
    ``partsupp`` stock valuation, so "value" is delivered discounted
    revenue; the defining pattern — a HAVING comparison against a
    scalar subquery over the SAME relation — is preserved, and both
    sides accumulate in exact decimal so the 0.001× threshold
    comparison is bit-identical across engines.

    Scale: the per-part aggregate and the global total reuse one
    filtered lineitem⋈supplier⋈nation relation; the total collapses
    map-side into a single row and joins back as a broadcast scalar —
    no second scan of lineitem and no cartesian (the crossJoin is a
    1-row literal, same as the other scalar-subquery queries)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    dim = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    nation_li = li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey).select(
        "l_partkey", (_revenue()).cast(_DEC).alias("v")
    )
    per_part = nation_li.groupBy("l_partkey").agg(
        F.sum("v").cast("double").alias("part_value")
    )
    total = nation_li.agg(F.sum("v").cast("double").alias("_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > 0.001 * F.col("_total"))
        .drop("_total")
    )


# ---------------------------------------------------------------------------
# Q20 shape — suppliers holding a dominant share of a part's volume
# ---------------------------------------------------------------------------


@register(
    "dominant_part_suppliers",
    oracle="""
WITH sp AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <  TIMESTAMP '1996-01-01'
  GROUP BY 1, 2
),
tot AS (SELECT l_partkey, sum(qty) AS t FROM sp GROUP BY 1)
SELECT s.s_suppkey, s.s_name,
       CAST(count(*) AS BIGINT) AS n_dominant_parts,
       sum(sp.qty) AS dominant_qty
FROM sp
JOIN tot USING (l_partkey)
JOIN supplier s ON s.s_suppkey = sp.l_suppkey
WHERE sp.qty > 0.5 * tot.t
GROUP BY 1, 2
""",
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (reference has no warehouse suite; this closes
    the 22-query sweep).  Adaptation: no ``partsupp`` stock table in
    the testdata, so "excess availability" becomes *dominance* —
    suppliers who shipped more than half of a part's total 1995
    volume.  The defining Q20 pattern is preserved: a per-(supplier,
    part) aggregate compared against a correlated per-part aggregate,
    then collapsed to qualifying suppliers.

    Scale: ONE shipdate-pruned scan feeds both aggregation levels
    (``tot`` re-aggregates the already-tiny ``sp`` relation, never
    lineitem); the per-part totals join is on the grouped relation
    (|parts| rows), and supplier resolution is a broadcast.  Quantities
    are integer-valued doubles, so every sum is exact and the 0.5×
    threshold (a power of two) compares bit-identically across
    engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
    )
    sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    tot = sp.groupBy("l_partkey").agg(F.sum("qty").alias("t"))
    s = load_table(spark, sf_dir, "supplier")
    dom = sp.join(tot, "l_partkey").filter(
        F.col("qty") > 0.5 * F.col("t")
    )
    return (
        dom.join(F.broadcast(s), dom.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_dominant_parts"),
            F.sum("qty").alias("dominant_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Q: parts/supplier relationship census (TPC-H Q16 shape)
# ---------------------------------------------------------------------------


@register(
    "parts_supplier_census",
    oracle="""
WITH rel AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
excluded AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
)
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT r.l_suppkey) AS BIGINT) AS supplier_cnt
FROM rel r
JOIN part p ON p.p_partkey = r.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_type NOT LIKE 'MEDIUM POLISHED%'
  AND p.p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
  AND r.l_suppkey NOT IN (SELECT s_suppkey FROM excluded)
GROUP BY p.p_brand, p.p_type, p.p_size
""",
)
def parts_supplier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 — the last of the 22 without a registered twin.
    Adaptation: no ``partsupp`` table in the testdata, so the
    part↔supplier relationship is DERIVED from shipment history
    (distinct (l_partkey, l_suppkey) pairs — exactly the relation
    partsupp materializes); no ``s_comment``, so the "customer
    complaints" supplier blacklist becomes the negative-balance set.
    The defining Q16 pattern is intact: a distinct-pair relation,
    a dimensional anti-filter (brand/type/size predicates), a NOT IN
    supplier exclusion, and count(DISTINCT supplier) per group.

    Scale: the distinct-pair reduction is the one lineitem-sized
    exchange (partial-agg-friendly); part is a broadcast; the
    blacklist is a tiny broadcast anti-join (never a shuffled NOT IN);
    the final distinct-count groups are bounded by the brand×type×size
    cross product."""
    li = load_table(spark, sf_dir, "lineitem")
    rel = li.select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (~F.col("p_type").startswith("MEDIUM POLISHED"))
        & (F.col("p_size").isin(49, 14, 23, 45, 19, 3, 36, 9))
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        rel.join(bad, "l_suppkey", "left_anti")
        .join(F.broadcast(p), rel.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )

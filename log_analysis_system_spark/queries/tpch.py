"""General OLAP queries over the TPC-H-ish tables — the engine's bench
headliners and the scan/agg/join breadth the reference exercises through SQL
(AreaTop3ProductSpark.java uses Spark SQL as its surface; these queries are
that surface on the driver testdata).

Float policy: monetary columns are 2-decimal doubles; aggregates convert them
to integer cents first (``round(x*100)`` — exact in both engines because the
stored doubles are within 1e-10 of a cent), sum the integers (exact,
associative, immune to float summation-order divergence across partitionings),
and divide back to doubles only at the output edge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import query


def _cents(col: str) -> Column:
    return F.round(F.col(col) * 100, 0).cast("long")


@query(
    "pricing_summary",
    oracle="""
WITH c AS (
    SELECT l_returnflag, l_linestatus,
           CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
           CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
           CAST(round(l_tax * 100) AS BIGINT) AS tax_c
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       sum(qty_c) / 100.0 AS sum_qty,
       sum(price_c) / 100.0 AS sum_base_price,
       sum(price_c * (100 - disc_c)) / 10000.0 AS sum_disc_price,
       sum(price_c * (100 - disc_c) * (100 + tax_c)) / 1000000.0 AS sum_charge,
       count(*) AS count_order
FROM c GROUP BY l_returnflag, l_linestatus
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan + pushed-down predicate + exact
    grouped sums. One partial/final hash aggregate, no joins, no shuffle
    beyond the 6-group exchange."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = li.where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    ).select(
        "l_returnflag",
        "l_linestatus",
        _cents("l_quantity").alias("qty_c"),
        _cents("l_extendedprice").alias("price_c"),
        _cents("l_discount").alias("disc_c"),
        _cents("l_tax").alias("tax_c"),
    )
    return cents.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum("qty_c") / 100.0).alias("sum_qty"),
        (F.sum("price_c") / 100.0).alias("sum_base_price"),
        (F.sum(F.col("price_c") * (F.lit(100) - F.col("disc_c"))) / 10000.0).alias(
            "sum_disc_price"
        ),
        (
            F.sum(
                F.col("price_c")
                * (F.lit(100) - F.col("disc_c"))
                * (F.lit(100) + F.col("tax_c"))
            )
            / 1000000.0
        ).alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "top_customers",
    oracle="""
SELECT c.c_custkey AS custkey, any_value(c.c_name) AS name,
       any_value(n.n_name) AS nation,
       sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
       count(*) AS order_cnt
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
GROUP BY c.c_custkey
ORDER BY revenue DESC, custkey
LIMIT 20
""",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact→dim broadcast join + grouped exact sum + global top-k
    (TakeOrderedAndProject)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    joined = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
    return (
        joined.groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.first("c_name").alias("name"),
            F.first("n_name").alias("nation"),
            (F.sum(_cents("o_totalprice")) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("order_cnt"),
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


@query(
    "order_priority_counts",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_quantity > 45)
GROUP BY o_orderpriority
""",
)
def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped: predicate + left-semi join (EXISTS) + count. Exercises
    the semi-join operator the reference only has as an idiom (J2/J3)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    qualifying = li.where(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        orders.where(
            F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp")
        )
        .join(qualifying, orders["o_orderkey"] == qualifying["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "shipping_priority",
    oracle="""
SELECT l_orderkey,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
           AS revenue_c4,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_c4 DESC, l_orderkey
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (customer ⋈ orders ⋈ lineitem) with
    selective predicates on both sides, exact 10^-4-unit revenue, global
    top-10 (TakeOrderedAndProject — no full sort). No explicit broadcast
    hint on customer: it is SF-proportional, so the choice belongs to
    Catalyst/AQE (auto-broadcast locally, sort-merge at 100 TB). The
    orders⋈lineitem join shuffles on orderkey, the natural co-partition
    key at scale."""
    c = (
        read_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > "1998-01-01"
    )
    rev = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).alias("revenue_c4"))
        .select("l_orderkey", "revenue_c4", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue_c4"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "forecast_revenue",
    oracle="""
SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * CAST(round(l_discount * 100) AS BIGINT)) / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
  AND l_quantity < 24
""",
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the canonical pushdown showcase — every predicate
    (shipdate range, discount band, quantity cap) reaches the parquet scan
    as PushedFilters, so at 100 TB the row-group min/max statistics skip
    most of the table before a single row is decoded. No join, one scalar
    aggregate, zero shuffles beyond the single-row final agg."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & _cents("l_discount").between(5, 7)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (
                F.sum(_cents("l_extendedprice") * _cents("l_discount")) / 10000.0
            ).alias("revenue")
        )
    )


@query(
    "promo_revenue_share",
    oracle="""
WITH c AS (
    SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c4,
           p_type
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
)
SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_c4 ELSE 0 END) AS BIGINT)
           AS promo_rev_c4,
       CAST(sum(rev_c4) AS BIGINT) AS total_rev_c4,
       100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev_c4 ELSE 0 END)
             / sum(rev_c4) AS promo_pct
FROM c
""",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact ⋈ dim + conditional aggregation ratio. `part`
    is SF-proportional, so no broadcast hint — AQE picks broadcast locally
    and sort-merge on l_partkey/p_partkey at cluster scale. The ratio
    divides two exact integer sums, so both engines perform one identical
    IEEE division."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    part = read_table(spark, sf_dir, "part")
    rev = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    joined = li.join(part, li.l_partkey == part.p_partkey).select(
        rev.alias("rev_c4"), "p_type"
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_c4")).otherwise(0))
    total = F.sum("rev_c4")
    return joined.agg(
        promo.alias("promo_rev_c4"),
        total.alias("total_rev_c4"),
        (F.lit(100.0) * promo / total).alias("promo_pct"),
    )


BIG_ORDER_QTY_CENTS = 25_000  # sum(l_quantity) > 250 — ~top 1% of orders


@query(
    "big_orders",
    oracle=f"""
WITH big AS (
    SELECT l_orderkey, sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_c
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > {BIG_ORDER_QTY_CENTS}
)
SELECT o.o_orderkey AS orderkey, c.c_custkey AS custkey, c.c_name AS name,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       CAST(round(o.o_totalprice * 100) AS BIGINT) / 100.0 AS total_price,
       big.qty_c / 100.0 AS sum_qty
FROM big
JOIN orders o   ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY total_price DESC, orderkey
LIMIT 20
""",
)
def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: grouped HAVING filter feeding a join back to the
    fact's parents — the "find the rare heavy groups, then rehydrate them"
    pattern. The aggregate runs map-side partial on l_orderkey before the
    HAVING cut, so only the ~1% surviving keys reach the orders join; AQE
    sees the post-filter size at runtime and broadcasts the survivors."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents("l_quantity")).alias("qty_c"))
        .where(F.col("qty_c") > BIG_ORDER_QTY_CENTS)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            (_cents("o_totalprice") / 100.0).alias("total_price"),
            (F.col("qty_c") / 100.0).alias("sum_qty"),
        )
        .orderBy(F.desc("total_price"), F.asc("orderkey"))
        .limit(20)
    )


# Argmin packing: price_c (< 2^39 for any realistic price) in the high
# bits, suppkey (< 2^24 = 16.7M) in the low 24 — disjoint bit ranges, so
# `p * 2^24 + s` orders by price first, then suppkey, inside one BIGINT.
_ARGMIN_BASE = 1 << 24


@query(
    "cheapest_supplier_per_part",
    oracle=f"""
WITH packed AS (
    SELECT l_partkey,
           min(CAST(round(l_extendedprice * 100) AS BIGINT) * {_ARGMIN_BASE}
               + l_suppkey) AS m
    FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey AS partkey,
       m % {_ARGMIN_BASE} AS suppkey,
       (m // {_ARGMIN_BASE}) / 100.0 AS min_price
FROM packed
""",
)
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's correlated min-per-group, as an aggregation-based argmin:
    (price, suppkey) packed into one 64-bit key (price in the high bits) so
    `min(packed)` runs as a plain long HashAggregate — one partial/final
    pass, no per-group sort, no window state, no re-join against the fact.
    At 100 TB that is one shuffle of (partkey, 8-byte) partials instead of
    the window form's full sort of every lineitem within each part. Tie on
    price → min suppkey (low bits). `min(struct(p, s))` expresses the same
    argmin for unbounded-width keys but falls back to SortAggregate; the
    packed form keeps whole-stage codegen. A plan gate pins HashAggregate.
    """
    li = read_table(spark, sf_dir, "lineitem")
    packed = _cents("l_extendedprice") * _ARGMIN_BASE + F.col("l_suppkey")
    return (
        li.groupBy("l_partkey")
        .agg(F.min(packed).alias("m"))
        .select(
            F.col("l_partkey").alias("partkey"),
            (F.col("m") % _ARGMIN_BASE).alias("suppkey"),
            (F.expr(f"m div {_ARGMIN_BASE}") / 100.0).alias("min_price"),
        )
    )


# Keep parts whose revenue exceeds AVG_MULT_TENTHS/10 × the mean per-part
# revenue — relative to the corpus, so the query is scale-invariant.
AVG_MULT_TENTHS = 15


@query(
    "important_parts",
    oracle=f"""
WITH per AS (
    SELECT l_partkey AS partkey,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_c4
    FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT sum(rev_c4) AS total_c4, count(*) AS n_parts FROM per)
SELECT partkey, CAST(rev_c4 AS BIGINT) AS rev_c4,
       100.0 * rev_c4 / total_c4 AS share_pct
FROM per, tot
WHERE rev_c4 * n_parts * 10 > {AVG_MULT_TENTHS} * total_c4
""",
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: grouped sums filtered against a global scalar
    (here 1.5× the mean per-part revenue, so the predicate is meaningful at
    any SF). The scalar stays IN-PLAN as a 1-row cross join over the
    already-aggregated per-part relation — the fact table is scanned and
    shuffled exactly once, and the driver never collects anything."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    per = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(rev).alias("rev_c4")
    )
    tot = per.agg(
        F.sum("rev_c4").alias("total_c4"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per.crossJoin(tot)
        .where(
            F.col("rev_c4") * F.col("n_parts") * 10
            > AVG_MULT_TENTHS * F.col("total_c4")
        )
        .select(
            "partkey",
            "rev_c4",
            (F.lit(100.0) * F.col("rev_c4") / F.col("total_c4")).alias("share_pct"),
        )
    )


@query(
    "local_supplier_volume",
    oracle="""
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
           AS revenue_c4
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join where customer and supplier must share a
    nation inside one region. Only the FIXED-size dims (nation 25 rows,
    region 5) carry broadcast hints; customer/supplier are SF-proportional,
    so their join strategy is left to Catalyst/AQE — hinting them would
    force an OOM broadcast at 100 TB. The c_nationkey = s_nationkey
    condition rides the join, never a post-filter cross product."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").where(
        F.col("r_name") == "ASIA"
    )
    rev = _cents("l_extendedprice") * (100 - _cents("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_c4"))
    )

"""TPC-H shapes Q7-Q10, Q12, Q13, Q15, Q17, Q19-Q22 over the driver tables —
the second half of the classic OLAP operator battery (the first half lives in
``tpch.py``). Each query keeps the canonical TPC-H operator pattern while
adapting predicates to the synthetic schema (no partsupp/commitdate/phone
columns here).

Float policy matches ``tpch.py``: money → integer cents (``_cents``) before
any aggregation; revenue terms are cent×percent integers (``_c4`` = 1e-4
dollar units); division back to double happens once, at the output edge, with
identical operand values in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_table
from . import query
from .tpch import _cents


def _rev_c4() -> Column:
    """price_c * (100 - disc_c): exact revenue in 1e-4 dollar units."""
    return _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))


_REV_C4_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


# --------------------------------------------------------------------- Q7

@query(
    "nation_trade_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       sum({_REV_C4_SQL}) / 10000.0 AS revenue
FROM lineitem l
JOIN orders o    ON o.o_orderkey = l.l_orderkey
JOIN customer c  ON c.c_custkey = o.o_custkey
JOIN supplier s  ON s.s_suppkey = l.l_suppkey
JOIN nation n1   ON n1.n_nationkey = s.s_nationkey
JOIN nation n2   ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1, 2, 3
""",
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship year.

    The two nation dims are broadcast (25 rows); the disjunctive nation-pair
    predicate applies AFTER both joins (it references both sides), but each
    branch's nation restriction still prunes via the broadcast hash tables.
    supplier/customer are SF-proportional — join strategy stays AQE's call."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg((F.sum(_rev_c4()) / 10000.0).alias("revenue"))
    )


# --------------------------------------------------------------------- Q8

@query(
    "nation_market_share",
    oracle=f"""
WITH vol AS (
    SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {_REV_C4_SQL} AS v,
           n2.n_name AS supp_nation
    FROM lineitem l
    JOIN part p      ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey = o.o_custkey
    JOIN nation n1   ON n1.n_nationkey = c.c_nationkey
    JOIN region r    ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'ASIA'
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN nation n2   ON n2.n_nationkey = s.s_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_2' THEN v ELSE 0 END)
                  AS DOUBLE) / sum(v), 6) AS mkt_share
FROM vol GROUP BY o_year
""",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region+type market per year.

    The share is a single-pass conditional aggregation (CASE-sum / sum) over
    one joined relation — never two scans diffed. Exact integer volumes make
    the ratio engine-deterministic; round(6) at the edge."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = n.select("n_nationkey", "n_regionkey")
    n2 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            _rev_c4().alias("v"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", F.col("v")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum("v"),
            6,
        ).alias("mkt_share")
    )


# --------------------------------------------------------------------- Q9

@query(
    "product_type_profit",
    oracle=f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       sum({_REV_C4_SQL}
           - CAST(round(p.p_retailprice * 100) AS BIGINT)
             * CAST(l.l_quantity AS BIGINT) * 10) / 10000.0 AS profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
GROUP BY 1, 2
""",
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a LIKE-filtered part family by supplier
    nation and order year (cost proxy: 10% of retail price per unit, exact
    in 1e-4 dollar ints). The LIKE lands in the part scan (pushed string
    filter); nation is broadcast; the three fact joins stay AQE-owned."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part").where(F.col("p_name").like("%bolt%"))
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    n = read_table(spark, sf_dir, "nation")
    profit = _rev_c4() - _cents("p_retailprice") * F.col("l_quantity").cast(
        "long"
    ) * F.lit(10)
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(profit) / 10000.0).alias("profit"))
    )


# -------------------------------------------------------------------- Q10

@query(
    "returned_item_report",
    oracle=f"""
SELECT c.c_custkey AS custkey, any_value(c.c_name) AS name,
       any_value(n.n_name) AS nation,
       sum({_REV_C4_SQL}) / 10000.0 AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c.c_custkey
ORDER BY revenue DESC, custkey
LIMIT 20
""",
)
def q_returned_item_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking of customers who returned items
    in a two-quarter window. Grouped exact sum + global top-20
    (TakeOrderedAndProject — no full sort at any scale)."""
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.first("c_name").alias("name"),
            F.first("n_name").alias("nation"),
            (F.sum(_rev_c4()) / 10000.0).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


# -------------------------------------------------------------------- Q12

@query(
    "priority_by_line_status",
    oracle="""
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_linestatus
""",
)
def q_priority_by_line_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (line status standing in for the absent ship mode):
    fact-fact join + fused two-way conditional count — one aggregate pass,
    no per-branch scans."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# -------------------------------------------------------------------- Q13

@query(
    "customer_order_distribution",
    oracle="""
WITH per_cust AS (
    SELECT c.c_custkey, count(o.o_orderkey) AS c_count
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                      AND o.o_orderpriority <> '4-NOT SPECIFIED'
    GROUP BY c.c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust GROUP BY c_count
""",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: count-of-counts with customers who have ZERO matching
    orders preserved — the left outer join is the semantic load-bearing part
    (an inner join silently drops the c_count=0 bucket). Two cascaded
    aggregations; the second groups on the first's output, so AQE coalesces
    its tiny shuffle."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# -------------------------------------------------------------------- Q15

@query(
    "top_revenue_supplier",
    oracle=f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no, sum({_REV_C4_SQL}) AS total_c4
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s.s_suppkey AS suppkey, s.s_name AS name,
       r.total_c4 / 10000.0 AS total_revenue
FROM revenue r
JOIN supplier s ON s.s_suppkey = r.supplier_no
WHERE r.total_c4 = (SELECT max(total_c4) FROM revenue)
""",
)
def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the quarter's maximum revenue.
    The max is a 1-row aggregate joined back by integer EQUALITY (exact c4
    units — float equality would be engine-dependent); Spark plans the 1-row
    side as a broadcast, so no second scan of the revenue view and no window
    over the whole supplier set."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = read_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev_c4()).alias("total_c4")
    )
    mx = revenue.agg(F.max("total_c4").alias("total_c4"))
    return (
        revenue.join(F.broadcast(mx), "total_c4")
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            (F.col("total_c4") / 10000.0).alias("total_revenue"),
        )
    )


# -------------------------------------------------------------------- Q17

@query(
    "small_quantity_revenue",
    oracle="""
WITH target AS (
    SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_size <= 10
),
stats AS (
    SELECT l.l_partkey,
           sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS sum_qty_c,
           count(*) AS cnt
    FROM lineitem l JOIN target t ON t.p_partkey = l.l_partkey
    GROUP BY l.l_partkey
)
SELECT sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 700.0 AS avg_yearly
FROM lineitem l
JOIN stats st ON st.l_partkey = l.l_partkey
WHERE CAST(round(l.l_quantity * 100) AS BIGINT) * 5 * st.cnt < st.sum_qty_c
""",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders below 20%% of a part's average
    quantity. The correlated scalar subquery becomes a per-part aggregate
    joined back on l_partkey; the 20%%-of-average comparison is cross-
    multiplied into pure integers (qty*5*cnt < sum_qty) so no float ever
    decides a row's membership. Both lineitem passes prune to the target
    part family via the same semi-joinable filter."""
    li = read_table(spark, sf_dir, "lineitem")
    target = (
        read_table(spark, sf_dir, "part")
        .where((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    tli = li.join(target, li.l_partkey == target.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    stats = tli.groupBy("l_partkey").agg(
        F.sum(_cents("l_quantity")).alias("sum_qty_c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        tli.join(stats, "l_partkey")
        .where(_cents("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty_c"))
        .agg((F.sum(_cents("l_extendedprice")) / 700.0).alias("avg_yearly"))
    )


# -------------------------------------------------------------------- Q19

@query(
    "disjunctive_revenue",
    oracle=f"""
SELECT sum({_REV_C4_SQL}) / 10000.0 AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
)
def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides. Catalyst
    extracts the cross-side disjunction's per-side implications (brand IN
    (...), size <= 15, quantity ranges) and pushes THOSE into each scan,
    then applies the full residual after the join — the pattern that turns
    a 'can't push ORs' query into a pruned scan at 100 TB."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & q.between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg((F.sum(_rev_c4()) / 10000.0).alias("revenue"))
    )


# -------------------------------------------------------------------- Q20

@query(
    "heavy_part_suppliers",
    oracle="""
WITH small_parts AS (
    SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
),
supp_qty AS (
    SELECT l.l_suppkey, sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS qty_c
    FROM lineitem l
    JOIN small_parts sp ON sp.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_suppkey
)
SELECT s.s_suppkey AS suppkey, s.s_name AS name, sq.qty_c / 100.0 AS total_qty
FROM supp_qty sq
JOIN supplier s ON s.s_suppkey = sq.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN region r   ON r.r_regionkey = n.n_regionkey
WHERE sq.qty_c > 10000 AND r.r_name = 'ASIA'
""",
)
def q_heavy_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (partsupp-free adaptation): suppliers who moved more
    than a threshold quantity of a LIKE-selected part family in a year,
    restricted to one region. Aggregate → threshold → join back to the
    supplier dim; part family membership is a semi-join (the part side is
    projected to its key before joining — no payload dragged through)."""
    small_parts = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    supp_qty = (
        li.join(small_parts, li.l_partkey == small_parts.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_cents("l_quantity")).alias("qty_c"))
        .where(F.col("qty_c") > 10000)
    )
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        supp_qty.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            (F.col("qty_c") / 100.0).alias("total_qty"),
        )
    )


# -------------------------------------------------------------------- Q21

@query(
    "blamed_suppliers",
    oracle="""
WITH l1 AS (
    SELECT DISTINCT l.l_suppkey, l.l_orderkey
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
    WHERE l.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l.l_orderkey
                    AND l2.l_suppkey <> l.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l.l_orderkey
                        AND l3.l_suppkey <> l.l_suppkey
                        AND l3.l_returnflag = 'R')
)
SELECT s.s_suppkey AS suppkey, any_value(s.s_name) AS name,
       count(*) AS numwait
FROM l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
GROUP BY s.s_suppkey
ORDER BY numwait DESC, suppkey
LIMIT 10
""",
)
def q_blamed_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for returned items in
    multi-supplier failed orders. The correlated EXISTS becomes a left-semi
    join and the NOT EXISTS a left-anti join on (orderkey, suppkey-inequality)
    — the canonical decorrelation; no subquery is re-executed per row.
    Top-10 with deterministic (numwait DESC, suppkey) tie-break."""
    li = read_table(spark, sf_dir, "lineitem")
    f_orders = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    base = (
        li.where(F.col("l_returnflag") == "R")
        .join(f_orders, li.l_orderkey == f_orders.o_orderkey)
        .select("l_suppkey", "l_orderkey")
    )
    other = li.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
        "l_returnflag",
    )
    exists_other = base.join(
        other,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    )
    sole_blame = exists_other.join(
        other.where(F.col("l_returnflag") == "R"),
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_anti",
    ).distinct()
    s = read_table(spark, sf_dir, "supplier")
    return (
        sole_blame.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_suppkey").alias("suppkey"))
        .agg(F.first("s_name").alias("name"), F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("suppkey"))
        .limit(10)
    )


# -------------------------------------------------------------------- Q22

@query(
    "idle_customer_balance",
    oracle="""
WITH avg_bal AS (
    SELECT CAST(round(avg(CAST(round(c_acctbal * 100) AS BIGINT)))
                AS BIGINT) AS avg_c
    FROM customer WHERE c_acctbal > 0.0
)
SELECT c.c_mktsegment AS segment, count(*) AS numcust,
       sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
FROM customer c, avg_bal a
WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) > a.avg_c
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
GROUP BY c.c_mktsegment
""",
)
def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (market segment standing in for phone country codes):
    wealthy customers with no RECENT orders (this synthetic corpus gives
    every customer some order, so the dormancy cutoff keeps the result
    non-empty while preserving the shape). The global average is a 1-row
    broadcast (integer cents, rounded once so both engines compare the same
    scalar); the dormancy test is a left-anti join against the date-pruned
    orders scan — the decorrelated NOT EXISTS."""
    c = read_table(spark, sf_dir, "customer")
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "2000-06-01")
        .select("o_custkey")
    )
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(F.round(F.avg(_cents("c_acctbal"))).cast("long").alias("avg_c"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .where(_cents("c_acctbal") > F.col("avg_c"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(_cents("c_acctbal")) / 100.0).alias("totacctbal"),
        )
    )


# -------------------------------------------------------------------- Q16

Q16_SIZES = (3, 9, 14, 23, 36, 45, 49)
Q16_BRAND = "Brand#13"
Q16_TYPE_PREFIX = "PROMO"


@query(
    "supplier_attr_counts",
    oracle=f"""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> '{Q16_BRAND}'
  AND p.p_type NOT LIKE '{Q16_TYPE_PREFIX}%'
  AND p.p_size IN {Q16_SIZES}
  AND l.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
GROUP BY 1, 2, 3
""",
)
def q_supplier_attr_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem standing in for the absent partsupp as the
    part<->supplier bridge; negative account balance standing in for the
    comment-matched complaint suppliers): distinct-supplier counts per
    (brand, type, size) over a multi-predicate part slice, EXCLUDING a
    blacklist of suppliers — the canonical NOT IN → anti-join + grouped
    COUNT(DISTINCT) battery entry, the last of the 22 TPC-H shapes
    (reference has no OLAP battery at all; cf. `UserVisitSessionAnalyzeSpark
    .java`'s bespoke aggregations).

    Scale shape: the part slice's three predicates all push to the parquet
    scan; the slim (partkey, brand, type, size) dim broadcasts into the
    fact scan, as does the tiny blacklist (left-anti). COUNT(DISTINCT
    suppkey) expands to the two-phase partial-distinct aggregate on the
    (brand, type, size) grouping — no stage keys on anything
    data-proportional except the grouped distinct itself, whose key space
    is bounded by |dim slice| x |suppliers|."""
    part = (
        read_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != Q16_BRAND)
            & ~F.col("p_type").startswith(Q16_TYPE_PREFIX)
            & F.col("p_size").isin(*Q16_SIZES)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )

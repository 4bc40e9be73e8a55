"""Top-N family (SURVEY §2.4 A4-A7, §2.3 J4-J7, §2.5 W1, §2.6 T1-T3).

- ``top10_category``: the reference's top-10 categories by (click, order, pay)
  counts with a custom secondary-sort key class (CategorySortKey.java:21-137) —
  here a single conditional aggregate + multi-column TakeOrderedAndProject.
  Category = the JSON ``k`` attribute of events.props (F6 get_json_object,
  parsed once per snapshot into the session base's ``category_id``);
  click/order/pay ≈ click/purchase/view event counts.
- ``top10_session_per_category``: grouped top-N (T3's insertion sort → window).
- ``area_top3``: the Area Top-3 Products job (AreaTop3ProductSpark.java:38-125)
  over region/nation/customer/orders/lineitem/part: scan → snowflake join →
  count + group_concat_distinct (U2) → window top-3 (W1) → CASE banding (P7/F8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import read_table

from ..functions.compat import group_concat_distinct
from ..operators.topn import grouped_topn, top10_categories_by_counts
from . import query
from .session_analysis import _sessionized


def _cat_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category click/order/pay counts in ONE pass (the reference chains
    three leftOuterJoins of separate count RDDs, UserVisitSessionAnalyzeSpark.
    java:1520-1610 — J4 collapses to conditional aggregation)."""
    return (
        _sessionized(spark, sf_dir)
        .groupBy("category_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "click_count"
            ),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "order_count"
            ),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
                "pay_count"
            ),
        )
    )


_CAT_COUNTS_CTE = """
cat_counts AS (
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS category_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS order_count,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pay_count
    FROM events GROUP BY 1
)
"""


@query(
    "top10_category",
    oracle=f"""
WITH {_CAT_COUNTS_CTE}
SELECT * FROM cat_counts
ORDER BY click_count DESC, order_count DESC, pay_count DESC, category_id
LIMIT 10
""",
)
def q_top10_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-A6 + T1 + T2: top-10 categories under the composite (click, order,
    pay) descending order. Compiles to TakeOrderedAndProject — no full sort."""
    return top10_categories_by_counts(_cat_counts(spark, sf_dir))


@query(
    "top10_session_per_category",
    oracle=f"""
WITH {_CAT_COUNTS_CTE},
top10 AS (
    SELECT category_id FROM cat_counts
    ORDER BY click_count DESC, order_count DESC, pay_count DESC, category_id
    LIMIT 10
),
per_user AS (
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS category_id,
           user_id, count(*) AS click_count
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
),
ranked AS (
    SELECT p.*, row_number() OVER (
               PARTITION BY p.category_id
               ORDER BY p.click_count DESC, p.user_id) AS rnk
    FROM per_user p JOIN top10 USING (category_id)
)
SELECT category_id, user_id, click_count, rnk FROM ranked WHERE rnk <= 10
""",
)
def q_top10_session_per_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + J5 + T3: for each top-10 category, the top-10 users by click count.
    The 10-row category list is broadcast (reference parallelizes it from the
    driver, :1637-1638); the per-group top-10 is a window, not an insertion
    sort (:1713-1787). The per-user counts group the session base by a
    user-prefixed key, so they ride its user partitioning: no shuffle."""
    top10 = q_top10_category(spark, sf_dir).select("category_id")
    per_user = (
        _sessionized(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .groupBy("category_id", "user_id")
        .agg(F.count(F.lit(1)).alias("click_count"))
    )
    joined = per_user.join(F.broadcast(top10), "category_id")
    return grouped_topn(
        joined,
        ["category_id"],
        [F.desc("click_count"), F.asc("user_id")],
        10,
        rank_col="rnk",
    ).select("category_id", "user_id", "click_count", F.col("rnk").cast("long").alias("rnk"))


@query(
    "area_top3",
    oracle="""
WITH clicks AS (
    SELECT r_name AS area, l_partkey AS product_id, n_nationkey, n_name
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
),
grouped AS (
    SELECT area, product_id, count(*) AS click_count,
           string_agg(DISTINCT CAST(n_nationkey AS VARCHAR) || ':' || n_name,
                      ',' ORDER BY CAST(n_nationkey AS VARCHAR) || ':' || n_name)
               AS city_infos
    FROM clicks GROUP BY area, product_id
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
                  PARTITION BY area
                  ORDER BY click_count DESC, product_id) AS BIGINT) AS rnk
    FROM grouped
)
SELECT area,
       CASE WHEN area IN ('AMERICA', 'ASIA') THEN 'A Level'
            WHEN area = 'EUROPE' THEN 'B Level'
            WHEN area = 'AFRICA' THEN 'C Level'
            ELSE 'D Level' END AS area_level,
       product_id, click_count, city_infos,
       p_name AS product_name,
       CASE WHEN p_size % 2 = 0 THEN 'Self' ELSE 'Third Party' END
           AS product_status,
       rnk
FROM ranked JOIN part ON product_id = p_partkey
WHERE rnk <= 3
""",
)
def q_area_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Area Top-3 Products job (AreaTop3ProductSpark.java:38-125).

    Snowflake join lineitem→orders→customer→nation→region (J6/J7; all dims
    broadcast), per-(area, product) count with sorted group_concat_distinct
    (A8/U2 — a sorted `collect_set`, `compat.group_concat_distinct`, replaces the reference's
    substring-dedup UDAF, whose arrival-order output is nondeterministic and
    whose substring containment check is a latent bug, GroupConcatDistinctUDAF.
    java:71-91), window top-3 per area (W1), CASE banding (P7), product-status
    derivation (F7 analog).
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    part = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size"
    )

    clicks = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("area"),
            F.col("l_partkey").alias("product_id"),
            F.concat_ws(
                ":", F.col("n_nationkey").cast("string"), F.col("n_name")
            ).alias("city_info"),
        )
    )
    grouped = clicks.groupBy("area", "product_id").agg(
        F.count(F.lit(1)).alias("click_count"),
        group_concat_distinct("city_info").alias("city_infos"),
    )
    top3 = grouped_topn(
        grouped,
        ["area"],
        [F.desc("click_count"), F.asc("product_id")],
        3,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))
    return top3.join(part, top3["product_id"] == part["p_partkey"]).select(
        "area",
        F.when(F.col("area").isin("AMERICA", "ASIA"), "A Level")
        .when(F.col("area") == "EUROPE", "B Level")
        .when(F.col("area") == "AFRICA", "C Level")
        .otherwise("D Level")
        .alias("area_level"),
        "product_id",
        "click_count",
        "city_infos",
        F.col("p_name").alias("product_name"),
        F.when(F.col("p_size") % 2 == 0, "Self")
        .otherwise("Third Party")
        .alias("product_status"),
        "rnk",
    )

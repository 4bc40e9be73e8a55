"""Top-N operators (SURVEY §2.6 T1-T3).

The reference implements grouped top-10 with a hand-rolled per-group insertion
sort inside groupByKey (UserVisitSessionAnalyzeSpark.java:1713-1787) and a
composite-key secondary sort via a custom Ordered class
(spark/session/CategorySortKey.java:21-137). Both collapse to declarative
window / orderBy plans here:

- global top-k compiles to TakeOrderedAndProject (per-partition heap + driver
  merge of k rows — no full sort, no driver-side data besides k rows);
- grouped top-k is a single shuffle on the partition keys, then a sorted
  in-partition scan; AQE splits skewed groups.

Always pass a deterministic tie-breaker in ``order_cols`` (e.g. the id column
ascending last) — at 100 TB any nondeterministic rank flaps between runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grouped_topn(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rank",
    keep_rank: bool = True,
) -> DataFrame:
    """Top-``k`` rows per group via row_number (replaces T3's insertion sort and
    W1/W2's SQL window; reference AreaTop3ProductSpark.java:384-409)."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    out = df.withColumn(rank_col, F.row_number().over(w)).where(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def global_topn(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Global top-k (T1+T2): multi-column orderBy + limit. Catalyst compiles this
    to TakeOrderedAndProject — the reference's full sortByKey + take(10)
    (UserVisitSessionAnalyzeSpark.java:1239-1272) never materializes here."""
    return df.orderBy(*order_cols).limit(k)


def top10_categories_by_counts(counts: DataFrame) -> DataFrame:
    """T1/T2: the reference's top-10 categories of a (category_id,
    click_count, order_count, pay_count) table under its composite key
    (CategorySortKey.java:21-137) — click, order, pay descending, then
    category id ascending as the deterministic tie-break."""
    return global_topn(
        counts,
        [
            F.desc("click_count"),
            F.desc("order_count"),
            F.desc("pay_count"),
            F.asc("category_id"),
        ],
        10,
    )

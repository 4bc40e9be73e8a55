"""Aggregation operators (SURVEY §2.4 A2-A7).

A3 in the reference is a custom string-packed AccumulatorParam incremented
inside a filter (spark/session/SessionAggrStatAccumulator.java:18-90) — an
idiom that is both unreliable (accumulators in transformations re-fire on
retry) and driver-bound. Here it is one conditional-aggregation pass:
``sum(when(bin_condition, 1))`` per bin — a single map-side-combinable
hash aggregate, no accumulator, exactly-once semantics from the engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bin_ratio_aggregate(
    df: DataFrame, bins: dict[str, Column], scale: int = 2
) -> DataFrame:
    """One-pass histogram + ratios (A3 parity).

    ``bins`` maps output column name -> boolean Column. Output: one row with
    ``session_count`` and one HALF_UP-rounded ratio column per bin
    (ratio finalization: UserVisitSessionAnalyzeSpark.java:1021-1114;
    rounding: util/NumberUtils.java:17-20 — Spark's round() is HALF_UP,
    matching the reference's BigDecimal mode).
    """
    cnt = F.count(F.lit(1))
    aggs = [cnt.alias("session_count")] + [
        F.round(
            F.sum(F.when(cond, 1).otherwise(0)) / cnt, scale
        ).alias(f"{name}_ratio")
        for name, cond in bins.items()
    ]
    return df.agg(*aggs)


# The reference's A3 bins (UserVisitSessionAnalyzeSpark.java:607-664) as SQL
# conditions, so the Spark queries and their DuckDB oracles read one table.
SESSION_BINS = {
    "visit_1s_3s": "visit_length BETWEEN 1 AND 3",
    "visit_4s_6s": "visit_length BETWEEN 4 AND 6",
    "visit_7s_9s": "visit_length BETWEEN 7 AND 9",
    "visit_10s_30s": "visit_length BETWEEN 10 AND 30",
    "visit_30s_60s": "visit_length > 30 AND visit_length <= 60",
    "visit_1m_3m": "visit_length > 60 AND visit_length <= 180",
    "visit_3m_10m": "visit_length > 180 AND visit_length <= 600",
    "visit_10m_30m": "visit_length > 600 AND visit_length <= 1800",
    "visit_30m": "visit_length > 1800",
    "step_1_3": "step_length BETWEEN 1 AND 3",
    "step_4_6": "step_length BETWEEN 4 AND 6",
    "step_7_9": "step_length BETWEEN 7 AND 9",
    "step_10_30": "step_length BETWEEN 10 AND 30",
    "step_30_60": "step_length > 30 AND step_length <= 60",
    "step_60": "step_length > 60",
}


def session_bin_ratios(sessions: DataFrame) -> DataFrame:
    """A3: ``bin_ratio_aggregate`` of per-session rows (``visit_length``
    seconds, ``step_length`` actions) over ``SESSION_BINS``."""
    return bin_ratio_aggregate(
        sessions, {k: F.expr(v) for k, v in SESSION_BINS.items()}
    )


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    n_salts: int = 10,
) -> DataFrame:
    """A9: skew-safe two-stage aggregation — random-salt partial aggregate,
    then final merge after stripping the salt (the reference's random-prefix
    double group-by, AreaTop3ProductSpark.java:319-348 + RandomPrefixUDF).

    Under AQE (`spark.sql.adaptive.skewJoin/coalescePartitions`) this pattern
    is normally unnecessary — keep it for aggregations whose single hot key
    overwhelms even AQE's partition splitting. Only works for algebraic
    aggregates; ``aggs`` maps output name -> partial aggregate expression, and
    the final stage re-aggregates with SUM (so express count as sum of 1s).
    """
    salted = df.withColumn("_salt", (F.rand() * n_salts).cast("int"))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(name).alias(name) for name in aggs]
    )


def explode_count(
    df: DataFrame, list_col: str, sep: str = ",", out_col: str = "id"
) -> DataFrame:
    """Split a delimited list column, explode, count per element (A5;
    reference UserVisitSessionAnalyzeSpark.java:1398-1506 does this with
    flatMap + reduceByKey). Null/empty lists contribute nothing."""
    return (
        df.where(F.col(list_col).isNotNull())
        .select(F.explode(F.split(F.col(list_col), sep)).alias(out_col))
        .where(F.col(out_col) != "")
        .groupBy(out_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

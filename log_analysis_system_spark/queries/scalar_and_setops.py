"""Scalar-function surface (SURVEY §2.8 F1-F9) and set operations (§2.7)
exercised end-to-end with oracles.

The F-family query materializes every date-key format, JSON extraction,
sentinel and banding expression the reference uses, over the events table;
the set-ops query covers union/intersect/except (absent from the reference —
engine capability beyond parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    date_hour_key,
    date_key,
    json_field,
    null_sentinel,
    time_minute_key,
    zero_pad,
)
from ..sources.catalog import read_events, read_table
from . import query


@query(
    "scalar_functions",
    oracle="""
SELECT event_id,
       strftime(ts, '%Y%m%d') AS date_key,
       strftime(ts, '%Y-%m-%d_%H') AS date_hour,
       strftime(ts, '%Y%m%d%H%M') AS minute_key,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       COALESCE(CAST(json_extract_string(props, '$.missing') AS BIGINT), -1)
           AS k_missing_sentinel,
       lpad(CAST(user_id AS VARCHAR), 6, '0') AS user_padded,
       CASE WHEN value < 10 THEN 'low'
            WHEN value < 30 THEN 'mid'
            ELSE 'high' END AS value_band
FROM events
""",
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 date keys ('yyyyMMdd', 'yyyy-MM-dd_HH', 'yyyyMMddHHmm'), F6 JSON
    extraction, P8 null sentinel, F2 zero-pad, F7/F8 CASE banding — all as
    codegen column expressions over one scan."""
    ev = read_events(spark, sf_dir)
    return ev.select(
        "event_id",
        date_key(F.col("ts")).alias("date_key"),
        date_hour_key(F.col("ts")).alias("date_hour"),
        time_minute_key(F.col("ts")).alias("minute_key"),
        json_field(F.col("props"), "k").cast("long").alias("k"),
        null_sentinel(json_field(F.col("props"), "missing").cast("long")).alias(
            "k_missing_sentinel"
        ),
        zero_pad(F.col("user_id"), 6).alias("user_padded"),
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 30, "mid")
        .otherwise("high")
        .alias("value_band"),
    )


@query(
    "set_ops_users",
    oracle="""
WITH clicks AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
buys   AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT user_id, 'click_only' AS tag
FROM (SELECT user_id FROM clicks EXCEPT SELECT user_id FROM buys)
UNION ALL
SELECT user_id, 'click_and_purchase' AS tag
FROM (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM buys)
""",
)
def q_set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7: except/intersect/union over user sets (clickers who never
    purchased vs clickers who did)."""
    ev = read_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    click_only = clicks.exceptAll(buys.distinct()).withColumn(
        "tag", F.lit("click_only")
    )
    both = clicks.intersect(buys).withColumn("tag", F.lit("click_and_purchase"))
    return click_only.unionByName(both)


@query(
    "array_function_surface",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       CAST(len(list_filter(
           list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
           x -> x > 0)) AS BIGINT) AS n_pos,
       CAST(list_sum(list_transform(embedding,
           x -> abs(CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))))
           AS BIGINT) AS l1_mq,
       CAST(list_aggregate(
           list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
           'max') AS BIGINT) AS max_mq
FROM embeddings
""",
)
def q_array_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — transform / filter / aggregate /
    array_max lambdas evaluated per row INSIDE codegen, the complex-type
    expression surface the similarity operators build on (`F.aggregate`
    dot products, `F.zip_with`). Everything quantizes float components to
    milli-units through an exact float->double cast before rounding, so
    both engines compute identical integers; no UDF, no explode — the
    zero-shuffle way to compute per-vector statistics at any scale.
    Cites reference parity: the reference has no array columns at all
    (flat log rows); this surface exists for the embedding extension.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    mq = "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    return emb.select(
        "vec_id",
        F.expr("CAST(size(embedding) AS BIGINT)").alias("dim"),
        F.expr(f"CAST(size(filter({mq}, x -> x > 0)) AS BIGINT)").alias("n_pos"),
        F.expr(
            f"aggregate({mq}, CAST(0 AS BIGINT), (a, x) -> a + abs(x))"
        ).alias("l1_mq"),
        F.expr(f"array_max({mq})").alias("max_mq"),
    )


@query(
    "map_aggregation_surface",
    oracle="""
WITH counts AS (
    SELECT user_id, event_type, count(*) AS c FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_types,
       array_to_string(
           list_sort(list(event_type || ':' || CAST(c AS VARCHAR))), ','
       ) AS type_counts
FROM counts GROUP BY 1
""",
)
def q_map_aggregation_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed aggregation surface: per user, a genuine
    ``map<event_type, count>`` built with ``map_from_entries`` over
    collected (key, count) structs, then rendered canonically (entries ->
    transform -> array_sort -> array_join) so the hash compare is
    order-insensitive — maps have no cross-engine canonical order, strings
    do. The map stays a real map inside the plan (consumers would
    ``m['click']`` it); only the oracle edge flattens.

    Scale shape: two hash aggregates; the collect_list is bounded by
    |event_types| per user, never by event count.
    """
    ev = read_events(spark, sf_dir)
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_user = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "c"))
        ).alias("m")
    )
    rendered = F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries("m"),
                lambda e: F.concat(
                    e["key"], F.lit(":"), e["value"].cast("string")
                ),
            )
        ),
        ",",
    )
    return per_user.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        rendered.alias("type_counts"),
    )


@query(
    "null_semantics",
    oracle="""
WITH base AS (
    SELECT user_id, nullif(event_type, 'error') AS et FROM events
)
SELECT coalesce(et, '<null>') AS et_key,
       count(*) AS n_rows,
       count(et) AS n_nonnull,
       CAST(count(DISTINCT et) AS BIGINT) AS n_distinct,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM base GROUP BY et
""",
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NULL semantics pinned by oracle: ``nullif`` manufactures NULLs
    deterministically, then the query exercises the rules engines most
    often diverge on — GROUP BY collects all NULLs into ONE group,
    ``count(*)`` counts them, ``count(col)`` and ``count(DISTINCT col)``
    skip them. The grouping key itself stays nullable inside the plan;
    only the output edge coalesces it to a printable token.
    One hash aggregate; nothing here shuffles more than the group key.
    """
    ev = read_events(spark, sf_dir)
    base = ev.select(
        "user_id", F.nullif("event_type", F.lit("error")).alias("et")
    )
    return (
        base.groupBy("et")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("et").alias("n_nonnull"),
            F.countDistinct("et").alias("n_distinct"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.coalesce("et", F.lit("<null>")).alias("et_key"),
            "n_rows",
            "n_nonnull",
            "n_distinct",
            "n_users",
        )
    )

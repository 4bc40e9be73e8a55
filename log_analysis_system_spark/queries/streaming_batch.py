"""Batch-replayable equivalents of the realtime ad-analytics job (SURVEY §2.11
ST3-ST6; reference AdClickRealTimeSpark.java:37-127), expressed over ``events``.

The true Structured Streaming implementations live in
``log_analysis_system_spark.streaming`` and are exercised by streaming tests
(file source + availableNow). These batch forms give each streaming operator a
DuckDB oracle: for the cumulative/windowed aggregations, replaying the full
input through the stream yields exactly the final batch state, so the batch
query IS the semantic spec of the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import read_events, read_table

from ..operators.topn import grouped_topn
from . import query

BLACKLIST_THRESHOLD = 2  # reference literal `> 1` (AdClickRealTimeSpark.java:330)
WINDOW_SECONDS = 3600
SLIDE_SECONDS = 600


@query(
    "stream_blacklist",
    oracle=f"""
SELECT strftime(ts, '%Y-%m-%d') AS date_key, user_id, count(*) AS click_count
FROM events
WHERE event_type = 'click'
GROUP BY 1, 2
HAVING count(*) > {BLACKLIST_THRESHOLD}
""",
)
def q_stream_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 final state: users whose per-day click count exceeds the threshold
    (reference probes MySQL per element inside filter(),
    AdClickRealTimeSpark.java:313-337 — here state lives in the engine)."""
    ev = read_events(spark, sf_dir)
    return (
        ev.where(F.col("event_type") == "click")
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("date_key"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("click_count"))
        .where(F.col("click_count") > BLACKLIST_THRESHOLD)
    )


@query(
    "stream_cumulative_stat",
    oracle="""
WITH daily AS (
    SELECT strftime(ts, '%Y-%m-%d') AS date_key, event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
)
SELECT date_key, event_type, cnt,
       CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY date_key
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
FROM daily
""",
)
def q_stream_cumulative_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 / A11 final state: running totals per key across days (the
    reference's updateStateByKey re-emits full state each batch; the batch
    equivalent is a cumulative window over daily counts)."""
    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("date_key"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("date_key")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "date_key", "event_type", "cnt", F.sum("cnt").over(w).alias("cum_cnt")
    )


@query(
    "stream_top3_per_day",
    oracle="""
WITH counts AS (
    SELECT strftime(ts, '%Y-%m-%d') AS date_key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS ad_id,
           count(*) AS click_count
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
                  PARTITION BY date_key
                  ORDER BY click_count DESC, ad_id) AS BIGINT) AS rnk
    FROM counts
)
SELECT date_key, ad_id, click_count, rnk FROM ranked WHERE rnk <= 3
""",
)
def q_stream_top3_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST5 / W2: per-day top-3 'ads' (props.k) by click count. Implements the
    documented intent rank<=3 — the reference code ships `WHERE rank>=3`
    (AdClickRealTimeSpark.java:658), a recorded divergence (README.md:1536-1560
    shows rank<=3)."""
    ev = read_events(spark, sf_dir)
    counts = (
        ev.where(F.col("event_type") == "click")
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("date_key"),
            F.get_json_object("props", "$.k").cast("long").alias("ad_id"),
        )
        .agg(F.count(F.lit(1)).alias("click_count"))
    )
    return grouped_topn(
        counts,
        ["date_key"],
        [F.desc("click_count"), F.asc("ad_id")],
        3,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))


@query(
    "stream_sliding_window",
    oracle=f"""
WITH assigned AS (
    SELECT event_type,
           CAST(to_timestamp(
               (epoch_us(ts) // 1000000 // {SLIDE_SECONDS}) * {SLIDE_SECONDS}
               - i * {SLIDE_SECONDS}) AS TIMESTAMP) AS window_start
    FROM (SELECT event_type, ts,
                 unnest(generate_series(0, {WINDOW_SECONDS // SLIDE_SECONDS - 1})) AS i
          FROM events)
)
SELECT window_start, event_type, count(*) AS cnt
FROM assigned GROUP BY 1, 2
""",
)
def q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6 / A13: 60-minute window sliding every 10 minutes, per event type —
    the reference's reduceByKeyAndWindow (AdClickRealTimeSpark.java:720-760).
    Batch form uses the same F.window() the streaming query uses; the oracle
    replicates Spark's window assignment (each event belongs to
    window/slide = 6 consecutive windows)."""
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", f"{WINDOW_SECONDS} seconds", f"{SLIDE_SECONDS} seconds"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "cnt"
        )
    )


ATTRIBUTION_HORIZON_S = 3600


@query(
    "stream_attribution",
    oracle=f"""
WITH imp AS (
    SELECT user_id, ts AS imp_ts FROM events WHERE event_type = 'view'
),
clk AS (
    SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
)
SELECT i.user_id, i.imp_ts, c.click_ts
FROM imp i JOIN clk c
  ON c.user_id = i.user_id
 AND c.click_ts >= i.imp_ts
 AND c.click_ts <= i.imp_ts + INTERVAL {ATTRIBUTION_HORIZON_S} SECONDS
""",
)
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming.attribution.attribute_clicks`` — and it
    calls the streaming module's OWN join builder (watermarks are a no-op
    on batch input), so the oracle checks exactly the interval-join logic
    the stream runs: each click attributes to every impression by the same
    user within the preceding hour. At scale this is a shuffle on user_id
    with watermark-bounded state buffering on both sides."""
    from ..streaming.attribution import attribute_clicks

    ev = read_events(spark, sf_dir)
    # events carry no ad dimension on views; attribute on the user alone
    # (ad_id = constant) and project it away — the module's join condition
    # (user, ad, time-bound) is exercised unchanged.
    imp = ev.where(F.col("event_type") == "view").select(
        "user_id", F.lit(0).alias("ad_id"), "ts"
    )
    clk = ev.where(F.col("event_type") == "click").select(
        "user_id", F.lit(0).alias("ad_id"), "ts"
    )
    return attribute_clicks(
        imp, clk, horizon=f"{ATTRIBUTION_HORIZON_S} seconds"
    ).select("user_id", "imp_ts", "click_ts")


@query(
    "stream_attribution_unmatched",
    oracle=f"""
WITH imp AS (
    SELECT user_id, ts AS imp_ts FROM events WHERE event_type = 'view'
),
clk AS (
    SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
)
SELECT i.user_id, i.imp_ts
FROM imp i LEFT JOIN clk c
  ON c.user_id = i.user_id
 AND c.click_ts >= i.imp_ts
 AND c.click_ts <= i.imp_ts + INTERVAL {ATTRIBUTION_HORIZON_S} SECONDS
WHERE c.click_ts IS NULL
""",
)
def q_stream_attribution_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the LEFT-OUTER attribution join: impressions no click
    ever followed within the horizon — the unattributed-impression feed.
    Calls the streaming module's own builder with ``how="leftOuter"``, so
    the oracle checks the same join logic whose streaming form emits these
    rows on watermark expiry (state-store timeout emission, gated in
    tests/test_streaming_attribution.py)."""
    from ..streaming.attribution import attribute_clicks

    ev = read_events(spark, sf_dir)
    imp = ev.where(F.col("event_type") == "view").select(
        "user_id", F.lit(0).alias("ad_id"), "ts"
    )
    clk = ev.where(F.col("event_type") == "click").select(
        "user_id", F.lit(0).alias("ad_id"), "ts"
    )
    return (
        attribute_clicks(
            imp, clk, horizon=f"{ATTRIBUTION_HORIZON_S} seconds", how="leftOuter"
        )
        .where(F.col("click_ts").isNull())
        .select("user_id", "imp_ts")
    )


CORPUS_MIN_QUALITY = 0.3
_CORPUS_STOPS = "['the', 'a', 'of', 'and', 'in']"


@query(
    "stream_corpus_accept",
    oracle=f"""
WITH feat AS (
    SELECT doc_id,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS n_alpha,
           list_has_any(string_split(text, ' '), {_CORPUS_STOPS}) AS has_stop,
           string_split(text, ' ') AS words
    FROM documents
),
scored AS (
    SELECT doc_id, words,
           round(CASE WHEN n_chars BETWEEN 20 AND 10000 THEN 0.4 ELSE 0 END
                 + (n_alpha + 0.0) / greatest(n_chars, 1) * 0.4
                 + CASE WHEN has_stop THEN 0.2 ELSE 0 END, 4) AS quality
    FROM feat
),
gated AS (
    SELECT doc_id, quality, unnest(words) AS w
    FROM scored WHERE quality >= {CORPUS_MIN_QUALITY}
),
wh AS (
    SELECT doc_id, quality,
           CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
    FROM gated
),
votes AS (
    SELECT doc_id, quality, j,
           sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM wh, range(16) t(j)
    GROUP BY 1, 2, 3
),
sh AS (
    SELECT doc_id, quality,
           CAST(sum(CASE WHEN v > 0 THEN power(2, j) ELSE 0 END) AS BIGINT)
               AS simhash
    FROM votes GROUP BY 1, 2
)
SELECT doc_id, quality, simhash,
       CAST(simhash // 4096 AS BIGINT) AS band
FROM sh
""",
)
def q_stream_corpus_accept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming corpus-curation front door
    (``streaming.corpus``): the module's OWN stateless projections —
    quality gate, 16-bit tf-weighted SimHash, band key — applied to the
    documents table. The stateful FIFO dedup that follows in the stream is
    order-dependent by design and is exercised by the streaming tests; this
    query gives the stateless 90% (the part that runs per-row at 100 TB
    with zero shuffle) a cross-engine oracle."""
    from ..streaming.corpus import (
        BAND_BITS,
        SIMHASH_BITS,
        quality_expr,
        simhash_expr,
    )

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("quality", quality_expr())
        .where(F.col("quality") >= CORPUS_MIN_QUALITY)
        .withColumn("simhash", simhash_expr())
        .select(
            "doc_id",
            "quality",
            "simhash",
            F.shiftright("simhash", SIMHASH_BITS - BAND_BITS)
            .cast("long")
            .alias("band"),
        )
    )

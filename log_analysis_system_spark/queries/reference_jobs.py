"""The reference's four analysis jobs on its NATIVE data model — the API a
user of the reference migrates to. Each job is a parameterized function over
DataFrames of the reference schemas (schemas.py), returning the DataFrames
that the reference wrote to its MySQL result tables (sql.txt).

Job 1 session analysis : UserVisitSessionAnalyzeSpark.java:45-188
Job 2 page convert rate: PageOneStepConvertRateSpark.java:32-335
Job 3 area top3 product: AreaTop3ProductSpark.java:38-125
Job 4 realtime ad      : streaming/ad_analytics.py (Structured Streaming)

These are not in the driver-oracle registry (the driver pre-registers only its
own testdata views); tests/test_reference_jobs.py cross-checks them against
DuckDB on seeded mock data of the native schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.compat import group_concat_distinct
from ..operators.aggregates import explode_count, session_bin_ratios
from ..operators.funnel import conversion_rates, page_splits
from ..operators.sampling import stratified_sample_exact
from ..operators.topn import grouped_topn, top10_categories_by_counts
from ..params import TaskParams

_TS_FMT = "yyyy-MM-dd H:mm:ss"  # H (1-2 digits): the reference's
# SimpleDateFormat was lenient and its checked-in extract has unpadded hours
# ("2018-12-02 6:19:01") — 4 744 of 11 234 rows.


def _ts(col: str) -> Column:
    return F.to_timestamp(F.col(col), _TS_FMT)


# --------------------------------------------------------------- job 1 ------

def scan_actions(action_df: DataFrame, params: TaskParams) -> DataFrame:
    """S1: date-range scan — the reference interpolates SQL text
    (util/SparkUtils.java:73-77); here the predicate is a Column and Catalyst
    pushes it into the source scan / partition pruning."""
    out = action_df
    if params.start_date:
        out = out.where(F.col("date") >= params.start_date)
    if params.end_date:
        out = out.where(F.col("date") <= params.end_date)
    return out


def aggregate_sessions(actions: DataFrame) -> DataFrame:
    """A1 on the native schema: per-session keywords/categories/step/visit
    stats (UserVisitSessionAnalyzeSpark.java:304-421). Distinct concats are
    sorted (the reference's arrival-order concat is shuffle-nondeterministic,
    a recorded divergence)."""
    return actions.groupBy("session_id").agg(
        F.first("user_id").alias("user_id"),
        group_concat_distinct("search_keyword").alias("search_keywords"),
        group_concat_distinct(
            F.col("click_category_id").cast("string")
        ).alias("click_category_ids"),
        F.count(F.lit(1)).alias("step_length"),
        (
            F.unix_timestamp(F.max(_ts("action_time")))
            - F.unix_timestamp(F.min(_ts("action_time")))
        ).alias("visit_length"),
        F.min("action_time").alias("start_time"),
        F.first("date").alias("date"),
    )


def filter_sessions(session_agg: DataFrame, user_df: DataFrame, params: TaskParams) -> DataFrame:
    """P2 + J1: every predicate optional; in-list membership; numeric between;
    any-overlap of comma lists (ValidUtils.java:19-98). The user-dim join
    strategy is Catalyst/AQE's call (SF-proportional side — no forced
    broadcast)."""
    out = session_agg.join(user_df, "user_id")
    if params.start_age is not None:
        out = out.where(F.col("age") >= params.start_age)
    if params.end_age is not None:
        out = out.where(F.col("age") <= params.end_age)
    if params.professionals:
        out = out.where(F.col("professional").isin(params.professionals))
    if params.cities:
        out = out.where(F.col("city").isin(params.cities))
    if params.sex:
        out = out.where(F.col("sex") == params.sex)
    if params.keywords:
        out = out.where(
            F.arrays_overlap(
                F.split("search_keywords", ","),
                F.array(*[F.lit(k) for k in params.keywords]),
            )
        )
    if params.category_ids:
        out = out.where(
            F.arrays_overlap(
                F.split("click_category_ids", ","),
                F.array(*[F.lit(str(c)) for c in params.category_ids]),
            )
        )
    return out


def session_aggr_stat(filtered: DataFrame) -> DataFrame:
    """A3: the 16-counter histogram as ONE conditional-aggregation pass
    (replaces SessionAggrStatAccumulator); ratios HALF_UP 2dp (F5)."""
    return session_bin_ratios(filtered)


def session_detail(actions: DataFrame, filtered: DataFrame) -> DataFrame:
    """J2: detail rows of qualifying sessions (left-semi)."""
    return actions.join(
        filtered.select("session_id"), "session_id", "left_semi"
    )


def extract_sessions(
    filtered: DataFrame, per_day: int = 100
) -> DataFrame:
    """R1: ~per_day sessions/day, hours weighted by their session share
    (proportional formula incl. the reference's floor truncation, :803-807),
    ranked by md5(session_id) — deterministic, no driver-side index draws."""
    keyed = filtered.withColumn(
        "hour_key", F.hour(_ts("start_time")).cast("long")
    )
    return stratified_sample_exact(
        keyed, ["date"], ["hour_key"], "session_id", per_day
    ).drop("hour_key")


def top10_categories(details: DataFrame) -> DataFrame:
    """A4-A6 + J4 + T1/T2: click counts (filter), order/pay counts (explode),
    one left-join pass with 0-fill, composite-order top 10."""
    clicks = (
        details.where(F.col("click_category_id").isNotNull())
        .groupBy(F.col("click_category_id").cast("string").alias("category_id"))
        .agg(F.count(F.lit(1)).alias("click_count"))
    )
    orders = explode_count(details, "order_category_ids", out_col="category_id")
    pays = explode_count(details, "pay_category_ids", out_col="category_id")
    all_ids = (
        clicks.select("category_id")
        .union(orders.select("category_id"))
        .union(pays.select("category_id"))
        .distinct()
    )
    counts = (
        all_ids.join(clicks, "category_id", "left")
        .join(orders.withColumnRenamed("cnt", "order_count"), "category_id", "left")
        .join(pays.withColumnRenamed("cnt", "pay_count"), "category_id", "left")
        .select(
            F.col("category_id").cast("long").alias("category_id"),
            F.coalesce("click_count", F.lit(0)).alias("click_count"),
            F.coalesce("order_count", F.lit(0)).alias("order_count"),
            F.coalesce("pay_count", F.lit(0)).alias("pay_count"),
        )
    )
    return top10_categories_by_counts(counts)


def top10_sessions_per_category(details: DataFrame, top10_cats: DataFrame) -> DataFrame:
    """A7 + J5 + T3: per top-10 category, the 10 sessions with most clicks."""
    per_session = (
        details.where(F.col("click_category_id").isNotNull())
        .groupBy(
            F.col("click_category_id").alias("category_id"), "session_id"
        )
        .agg(F.count(F.lit(1)).alias("click_count"))
    )
    joined = per_session.join(
        F.broadcast(top10_cats.select("category_id")), "category_id"
    )
    return grouped_topn(
        joined,
        ["category_id"],
        [F.desc("click_count"), F.asc("session_id")],
        10,
        rank_col="rnk",
    )


def session_analyze(
    action_df: DataFrame,
    user_df: DataFrame,
    params: TaskParams,
    cached: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Job 1 end-to-end. Returns the result tables of sql.txt:2-67.

    The scan, the filtered-session aggregate and the session detail are
    cached — they feed four downstream branches (stat, sampling, top10 x2),
    the same three reuse points the reference persists (:116,138,149). Each
    is appended to ``cached`` for the caller to unpersist once the tables
    are written (``runner.run_session_task`` does)."""

    def keep(df: DataFrame) -> DataFrame:
        if cached is not None:
            cached.append(df)
        return df.cache()

    actions = keep(scan_actions(action_df, params))
    agg = aggregate_sessions(actions)
    filtered = keep(filter_sessions(agg, user_df, params))
    details = keep(session_detail(actions, filtered))
    top10 = top10_categories(details)
    return {
        "session_aggr_stat": session_aggr_stat(filtered),
        "filtered_sessions": filtered,
        "session_random_extract": extract_sessions(filtered),
        "session_detail": details,
        "top10_category": top10,
        "top10_category_session": top10_sessions_per_category(details, top10),
    }


# --------------------------------------------------------------- job 2 ------

def page_convert_rate(
    action_df: DataFrame, params: TaskParams, scale: int = 2
) -> DataFrame:
    """Job 2 (X1+X2): adjacent page pairs per session via lag, matched against
    the target flow; chained conversion rates fully in-plan. Output: one row
    per split with its rate (the reference packs '3_5=0.8|...' into one
    varchar, page_split_convert_rate sql.txt:83-89 — real columns here)."""
    flow = [str(p) for p in params.target_page_flow]
    actions = scan_actions(action_df, params)
    splits = page_splits(
        actions.withColumn("ts", _ts("action_time")),
        session_col="session_id",
        ts_col="ts",
        page_col="page_id",
        tiebreak_col="page_id",
    )
    return conversion_rates(splits, flow, scale)


# --------------------------------------------------------------- job 3 ------

def area_top3_products(
    action_df: DataFrame,
    city_df: DataFrame,
    product_df: DataFrame,
    params: TaskParams,
) -> DataFrame:
    """Job 3: click scan (S2) → broadcast city join (J7) → per-(area, product)
    count + sorted group_concat_distinct (A8/U2) → window top-3 (W1) → product
    join with JSON status (F6/F7) and CASE banding (P7)."""
    clicks = (
        scan_actions(action_df, params)
        .where(F.col("click_product_id").isNotNull())
        .select("city_id", F.col("click_product_id").alias("product_id"))
    )
    joined = clicks.join(F.broadcast(city_df), "city_id")
    grouped = joined.groupBy("area", "product_id").agg(
        F.count(F.lit(1)).alias("click_count"),
        group_concat_distinct(
            F.concat_ws(":", F.col("city_id").cast("string"), "city_name")
        ).alias("city_infos"),
    )
    top3 = grouped_topn(
        grouped,
        ["area"],
        [F.desc("click_count"), F.asc("product_id")],
        3,
        rank_col="rnk",
    )
    level = F.when(F.col("area").isin("East", "North"), "A Level").when(
        F.col("area").isin("South", "Central"), "B Level"
    ).when(F.col("area").isin("Northwest", "Southwest"), "C Level").otherwise(
        "D Level"
    )
    status = F.when(
        F.get_json_object("extend_info", "$.product_status").cast("int") == 0,
        "Self",
    ).otherwise("Third Party")
    return (
        top3.join(product_df, "product_id")
        .select(
            "area",
            level.alias("area_level"),
            "product_id",
            "click_count",
            "city_infos",
            "product_name",
            status.alias("product_status"),
            "rnk",
        )
    )

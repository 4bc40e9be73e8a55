"""Temporal operators over the events stream table: batch gap-sessionization
and SCD2-style validity intervals. Both are the batch twins of streaming
constructs (`F.session_window`, `streaming/sessionization.py`) — at 100 TB
the same logical ops run over the lakehouse history instead of the live
stream, so the engine carries oracle-checked batch forms too.

Determinism: window orderings always carry the (ts, event_id) total order —
timestamp ties are broken by the unique key, so both engines assign
identical session indices and interval bounds.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalar import epoch_us
from ..sources.catalog import read_events, read_table
from . import query

GAP_MINUTES = 30
_GAP_US = GAP_MINUTES * 60 * 1_000_000


@query(
    "gap_sessions_events",
    oracle=f"""
WITH o AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_GAP_US}
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT user_id, ts,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_idx
    FROM o
)
SELECT user_id, session_idx, min(ts) AS session_start,
       max(ts) AS session_end, count(*) AS n_events
FROM s GROUP BY 1, 2
""",
)
def q_gap_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch: a {GAP} -minute silence starts a new
    session (the batch twin of ``F.session_window``; the reference only has
    pre-assigned session ids). One user-partitioned sort serves BOTH windows
    (lag flag + running session index), and the closing groupBy clusters on
    (user_id, session_idx) — a superset of the existing hash partitioning —
    so the whole query is a single exchange at any scale."""
    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        F.lag("ts").over(w).isNull()
        | (epoch_us("ts") - epoch_us(F.lag("ts").over(w)) > _GAP_US),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_idx = ev.withColumn("new_s", new_s).withColumn(
        "session_idx", F.sum("new_s").over(run)
    )
    return with_idx.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "user_state_intervals",
    oracle="""
WITH changes AS (
    SELECT user_id, event_type, ts,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type,
           event_id
    FROM events
),
state AS (
    SELECT user_id, event_type, ts, event_id FROM changes
    WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL THEN TRUE ELSE FALSE END AS is_current
FROM state
""",
)
def q_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2-style validity intervals: collapse each user's event-type run
    into one row valid [first occurrence, next state change) — the
    slowly-changing-dimension build a warehouse does from a CDC feed
    (``latest_per_key`` is the type-1 twin). Two windows over the SAME
    (user_id | ts, event_id) sort: the change filter preserves both the
    partitioning and the order, so Catalyst plans one exchange + one sort
    for the whole query."""
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    state = ev.withColumn("prev_type", F.lag("event_type").over(w)).where(
        F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type"))
    )
    return state.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "resample_hourly_dense",
    oracle="""
WITH bounds AS (
    SELECT event_type,
           time_bucket(INTERVAL 1 HOUR, min(ts)) AS t0,
           time_bucket(INTERVAL 1 HOUR, max(ts)) AS t1
    FROM events GROUP BY event_type
),
spine AS (
    SELECT b.event_type, unnest(generate_series(b.t0, b.t1, INTERVAL 1 HOUR))
               AS hour_start
    FROM bounds b
),
actual AS (
    SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS hour_start,
           count(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT s.event_type, s.hour_start,
       COALESCE(a.n, 0) AS n_events
FROM spine s
LEFT JOIN actual a
  ON a.event_type = s.event_type AND a.hour_start = s.hour_start
""",
)
def q_resample_hourly_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with GAP FILLING: hourly counts per event type
    on a DENSE hour spine (missing hours emit 0 — the property a plain
    groupBy lacks and every charting/forecast consumer needs). The spine is
    generated IN-PLAN per group via sequence()+explode from the group's own
    [min, max] bucket bounds — no driver-side date loop, no calendar table;
    spine size is bounded by the time range, not the data volume, and the
    fill join is an equi-join on (type, hour)."""
    ev = read_events(spark, sf_dir).select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    )
    actual = ev.groupBy("event_type", "hour_start").agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("hour_start").alias("t0"), F.max("hour_start").alias("t1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(
            F.expr("sequence(t0, t1, interval 1 hour)")
        ).alias("hour_start"),
    )
    return spine.join(actual, ["event_type", "hour_start"], "left").select(
        "event_type",
        "hour_start",
        F.coalesce("n", F.lit(0)).alias("n_events"),
    )


@query(
    "trend_fit_events",
    oracle="""
WITH pts AS (
    SELECT event_type,
           (epoch_us(ts) - 788918400000000) // 3600000000 AS x,  -- hours since 1995
           CAST(round(value * 1000) AS BIGINT) AS y              -- milli-units
    FROM events
),
sums AS (
    SELECT event_type, count(*) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM pts GROUP BY event_type
)
SELECT event_type, n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             9) AS slope_milli_per_hour
FROM sums
""",
)
def q_trend_fit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form least-squares trend per event type — ML as a pure
    aggregate: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) over integer-
    quantized (hour-since-1995, milli-value) points, so all five sums are
    exact bigints in both engines and ONE map-side-combinable aggregation pass
    replaces any iterative fitting. The division runs once per group at
    the output edge. This is the distributed-ML seam: anything expressible
    as algebraic sufficient statistics (moments, covariance, OLS) runs at
    100 TB as a plain aggregate with no parameter server."""
    pts = read_events(spark, sf_dir).select(
        "event_type",
        F.expr(
            "(unix_micros(cast(ts as timestamp_ltz)) - 788918400000000)"
            " div 3600000000"
        ).alias("x"),
        F.round(F.col("value") * 1000).cast("long").alias("y"),
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # The n*S products would overflow int64 (the sums themselves cannot:
    # centered hour-scale x bounds sum(x*y) under ~1e17 through sf100), so
    # the final arithmetic runs in double with the SAME operand values and
    # operation order as the oracle — bit-identical results.
    n_d, sxy_d, sx_d, sy_d, sxx_d = (
        F.col(c).cast("double") for c in ("n", "sxy", "sx", "sy", "sxx")
    )
    return sums.select(
        "event_type",
        "n",
        F.round(
            (n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d), 9
        ).alias("slope_milli_per_hour"),
    )


def _overlap_oracle() -> str:
    """Compose the two temporal oracles: sessions x state intervals per
    user where the ranges overlap, rolled up to a states-per-session
    histogram (same composition trick as the components oracle)."""
    from . import ORACLES

    sessions = ORACLES["gap_sessions_events"].strip().rstrip(";")
    states = ORACLES["user_state_intervals"].strip().rstrip(";")
    return f"""
WITH sessions AS ({sessions}),
states AS ({states}),
ov AS (
    SELECT s.user_id, s.session_idx, count(*) AS n_states
    FROM sessions s
    JOIN states st
      ON st.user_id = s.user_id
     AND st.valid_from <= s.session_end
     AND (st.valid_to IS NULL OR st.valid_to > s.session_start)
    GROUP BY 1, 2
)
SELECT n_states, count(*) AS n_sessions
FROM ov GROUP BY n_states
"""


@query("session_state_overlap", oracle=_overlap_oracle())
def q_session_state_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: align two DERIVED interval relations — gap
    sessions and SCD2 state intervals — per user, counting how many state
    intervals each session spans, rolled up to a histogram. The join is an
    equi-join on user_id carrying the overlap range predicate as a join
    condition (per-user blocks bound the quadratic term, the interval
    analog of entity-matching's blocking key); for interval joins WITHOUT
    an equi key, `operators/rangejoin.py` shows the bucket decomposition.
    Both inputs build in-plan from the same scan — the oracle composes the
    two queries' SQL verbatim."""
    sessions = q_gap_sessions_events(spark, sf_dir).select(
        "user_id", "session_idx", "session_start", "session_end"
    )
    states = q_user_state_intervals(spark, sf_dir).select(
        F.col("user_id").alias("st_user"), "valid_from", "valid_to"
    )
    overlaps = (
        sessions.join(
            states,
            (F.col("st_user") == F.col("user_id"))
            & (F.col("valid_from") <= F.col("session_end"))
            & (
                F.col("valid_to").isNull()
                | (F.col("valid_to") > F.col("session_start"))
            ),
        )
        .groupBy("user_id", "session_idx")
        .agg(F.count(F.lit(1)).alias("n_states"))
    )
    return overlaps.groupBy("n_states").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


@query(
    "forward_fill_values",
    oracle="""
WITH base AS (
    SELECT event_id, user_id,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE CAST(floor(value * 100) AS BIGINT) END AS v,
           ts
    FROM events
)
SELECT event_id, user_id, v,
       last_value(v IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS v_filled
FROM base
""",
)
def q_forward_fill_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF imputation (last observation carried forward): error rows carry
    no reading (manufactured NULL), and each user's gap inherits the most
    recent non-null value — `F.last(ignorenulls=True)` over the running
    frame, the imputation twin of `resample_hourly_dense`'s zero-fill.
    Rows before a user's first reading stay NULL by definition.

    Scale shape: one user-partitioned sort window over the (ts, event_id)
    total order — the same exchange every sessionize/SCD2 operator rides;
    integer cents keep filled values bit-equal.
    """
    ev = read_events(spark, sf_dir)
    base = ev.select(
        "event_id",
        "user_id",
        F.when(F.col("event_type") == "error", F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("value") * 100).cast("long"))
        .alias("v"),
        "ts",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "v",
        F.last("v", ignorenulls=True).over(w).alias("v_filled"),
    )


# ------------------------------------------- time-series similarity search

TS_QUERY_USERS = 5   # user_id < 5 are the query series
TS_TOP_K = 5
TS_HOURS = 24

_TS_DENSE_CTE = f"""
h AS (
    SELECT user_id, CAST(extract(hour FROM ts) AS BIGINT) AS j,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
grid AS (
    SELECT u.user_id, g.j
    FROM (SELECT DISTINCT user_id FROM events) u,
         (SELECT unnest(generate_series(0, {TS_HOURS - 1})) AS j) g
),
d AS (
    SELECT grid.user_id, grid.j, coalesce(h.c, 0) AS c
    FROM grid LEFT JOIN h ON h.user_id = grid.user_id AND h.j = grid.j
),
s AS (
    SELECT user_id, sum(c) AS sx, sum(c * c) AS sxx
    FROM d GROUP BY user_id
)
"""


@query(
    "ts_similarity_topk",
    oracle=f"""
WITH {_TS_DENSE_CTE},
xy AS (
    SELECT a.user_id AS query_id, b.user_id AS neighbor_id,
           sum(a.c * b.c) AS sxy
    FROM d a JOIN d b ON a.j = b.j
    WHERE a.user_id < {TS_QUERY_USERS} AND a.user_id <> b.user_id
    GROUP BY 1, 2
),
r AS (
    SELECT xy.query_id, xy.neighbor_id,
           round(CAST({TS_HOURS} * sxy - qa.sx * qb.sx AS DOUBLE)
                 / (sqrt(CAST({TS_HOURS} * qa.sxx - qa.sx * qa.sx AS DOUBLE))
                    * sqrt(CAST({TS_HOURS} * qb.sxx - qb.sx * qb.sx
                           AS DOUBLE))),
                 6) AS corr
    FROM xy
    JOIN s qa ON qa.user_id = xy.query_id
    JOIN s qb ON qb.user_id = xy.neighbor_id
    WHERE {TS_HOURS} * qa.sxx - qa.sx * qa.sx > 0
      AND {TS_HOURS} * qb.sxx - qb.sx * qb.sx > 0
),
ranked AS (
    SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY corr DESC, neighbor_id) AS BIGINT) AS rnk
    FROM r
)
SELECT query_id, neighbor_id, corr, rnk FROM ranked WHERE rnk <= {TS_TOP_K}
""",
)
def q_ts_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search: each user's hour-of-day activity
    profile (a dense {TS_HOURS}-point count series) matched against a
    bounded query set by Pearson correlation, top-{TS_TOP_K} most-similar
    users per query — the whole-series-matching half of the streaming
    similarity-search literature (the ANN queries cover the embedding
    half).

    Numeric policy: correlation is computed from the INTEGER sufficient
    statistics (n·Σxy − Σx·Σy over n·Σx² − (Σx)² ), which are exact
    bigints in both engines; only the final divide/sqrt runs in double,
    rounded at the output edge. Zero-variance series are excluded on both
    sides (correlation undefined).

    Scale shape: one groupBy builds each user's dense profile + sufficient
    statistics (profiles never leave their partition as raw events); the
    bounded query set broadcasts against the corpus exactly like
    ann_brute_topk (a corpus×corpus variant would reuse the LSH banding);
    top-k is one slim shuffle of (query, neighbor, corr) rows."""
    ev = read_events(spark, sf_dir)
    hist = ev.groupBy(
        "user_id", F.hour("ts").cast("long").alias("j")
    ).agg(F.count(F.lit(1)).alias("c"))
    dense = hist.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("j", "c"))).alias("m")
    ).select(
        "user_id",
        F.expr(
            f"transform(sequence(0, {TS_HOURS - 1}), "
            f"j -> coalesce(element_at(m, CAST(j AS BIGINT)), 0L))"
        ).alias("arr"),
    )
    stats = dense.select(
        "user_id",
        "arr",
        F.expr("aggregate(arr, 0L, (acc, v) -> acc + v)").alias("sx"),
        F.expr("aggregate(arr, 0L, (acc, v) -> acc + v * v)").alias("sxx"),
    ).where(F.lit(TS_HOURS) * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
    queries = stats.where(F.col("user_id") < TS_QUERY_USERS).select(
        F.col("user_id").alias("query_id"),
        F.col("arr").alias("qarr"),
        F.col("sx").alias("qsx"),
        F.col("sxx").alias("qsxx"),
    )
    pairs = F.broadcast(queries).crossJoin(
        stats.select(
            F.col("user_id").alias("neighbor_id"),
            F.col("arr").alias("narr"),
            F.col("sx").alias("nsx"),
            F.col("sxx").alias("nsxx"),
        )
    ).where(F.col("query_id") != F.col("neighbor_id"))
    sxy = F.expr(
        "aggregate(zip_with(qarr, narr, (x, y) -> x * y), 0L, "
        "(acc, v) -> acc + v)"
    )
    n = F.lit(TS_HOURS)
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            (n * sxy - F.col("qsx") * F.col("nsx")).cast("double")
            / (
                F.sqrt((n * F.col("qsxx") - F.col("qsx") * F.col("qsx")).cast("double"))
                * F.sqrt((n * F.col("nsxx") - F.col("nsx") * F.col("nsx")).cast("double"))
            ),
            6,
        ).alias("corr"),
    )
    from ..operators.topn import grouped_topn

    return grouped_topn(
        scored,
        ["query_id"],
        [F.desc("corr"), F.asc("neighbor_id")],
        TS_TOP_K,
        rank_col="rnk",
    ).withColumn("rnk", F.col("rnk").cast("long"))


# ------------------------------------------------- EWMA smoothing (FIR)

EWMA_TAPS = 8  # 8-tap half-life-1 FIR: weights 128,64,...,1 (most-recent-first)

_EWMA_NUM = " + ".join(
    f"coalesce(lag(v, {j}) OVER win, 0) * {1 << (EWMA_TAPS - 1 - j)}"
    if j
    else f"v * {1 << (EWMA_TAPS - 1)}"
    for j in range(EWMA_TAPS)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN lag(v, {j}) OVER win IS NOT NULL "
    f"THEN {1 << (EWMA_TAPS - 1 - j)} ELSE 0 END)"
    if j
    else f"{1 << (EWMA_TAPS - 1)}"
    for j in range(EWMA_TAPS)
)

# ONE SQL text executed verbatim by BOTH engines (same contract as
# trade_reach_hops): exponential smoothing as a fixed 8-tap FIR with
# power-of-two weights, so numerator and denominator are EXACT bigint
# sums — the usual recursive EWMA accumulates floats in arrival order and
# can never be cross-engine (or partitioning-) deterministic. The one
# double division is the output edge.
EWMA_SQL = f"""
WITH w AS (
    SELECT user_id, event_id, ts,
           CAST(round(value * 100) AS BIGINT) AS v
    FROM events
)
SELECT user_id, event_id, v,
       round(CAST({_EWMA_NUM} AS DOUBLE)
             / ({_EWMA_DEN}), 6) AS ewma_c
FROM w
WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("ewma_events", oracle=EWMA_SQL)
def q_ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's value stream —
    the classic time-series smoother, formulated as a bounded FIR filter
    (last {EWMA_TAPS} observations, weights halving per step) instead of
    the textbook infinite recurrence. The FIR form is what scales: the
    recurrence is inherently sequential per key (no partial aggregation,
    no parallelism within a key), while the FIR needs only one
    user-partitioned sort window and lag() — the same single exchange
    every sessionize/SCD2 operator rides. Power-of-two weights keep
    numerator/denominator exact bigints; warm-up rows renormalize over
    the taps that exist.

    Like trade_reach_hops, the SQL text runs VERBATIM on Spark and DuckDB
    over the same views — the oracle is the same query, not a
    re-implementation."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(EWMA_SQL)


# --------------------------------------------- CUSUM change-point detection

@query(
    "cusum_change_point",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
    FROM daily
),
pre AS (
    SELECT d, x,
           CAST(sum(x) OVER (ORDER BY d
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k
    FROM daily
),
scored AS (
    SELECT pre.d, pre.x, tot.n,
           CAST(pre.cum * tot.n - pre.k * tot.s AS BIGINT) AS s_scaled
    FROM pre, tot
)
SELECT d AS change_day, x AS day_count, n AS n_days,
       CAST(abs(s_scaled) AS BIGINT) AS cusum_scaled
FROM scored
ORDER BY abs(s_scaled) DESC, d
LIMIT 1
""",
)
def q_cusum_change_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily event-count series: the
    day where the cumulative deviation from the overall mean peaks — the
    standard "when did the level shift" monitor. The textbook statistic
    S_k = sum(x_i - mean) accumulates floats; scaling by n gives
    S_k * n = n*prefix_k - k*total, EXACT bigints, so the argmax is
    bit-stable (float CUSUM can flip the argmax between engines on ties).

    Scale shape: the raw scan collapses to one row per DAY before any
    window — the prefix sum runs over a calendar-bounded series (30 rows
    here, thousands at worst), so the unpartitioned-looking scan is over
    an aggregate, never the fact table."""
    from ..sources.catalog import read_events

    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return cusum_top(daily)


def cusum_top(daily: DataFrame) -> DataFrame:
    """The CUSUM scoring body over a (d, x) daily-count frame — shared by
    the batch query and the streaming level-shift monitor so both compute
    the identical statistic from their respective count sources."""
    from pyspark.sql import Window

    from ..operators.topn import global_topn

    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    w = Window.partitionBy(F.lit(1)).orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wk = Window.partitionBy(F.lit(1)).orderBy("d")
    pre = daily.withColumn("cum", F.sum("x").over(w)).withColumn(
        "k", F.row_number().over(wk).cast("long")
    )
    scored = pre.crossJoin(F.broadcast(tot)).select(
        "d", "x", "n",
        (F.col("cum") * F.col("n") - F.col("k") * F.col("s")).alias(
            "s_scaled"
        ),
    )
    return global_topn(
        scored.select(
            F.col("d").alias("change_day"),
            F.col("x").alias("day_count"),
            F.col("n").alias("n_days"),
            F.abs(F.col("s_scaled")).alias("cusum_scaled"),
        ),
        [F.desc("cusum_scaled"), F.asc("change_day")],
        1,
    )


# ------------------------------------------------- day-of-week seasonality

@query(
    "dow_seasonality",
    oracle="""
WITH d AS (
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
    FROM events GROUP BY 1
),
tot AS (
    SELECT CAST(sum(n) AS BIGINT) AS tot_n, CAST(sum(n_days) AS BIGINT)
               AS tot_days
    FROM d
)
SELECT dow, n, n_days,
       CAST((n * tot_days) * 1000000 // (n_days * tot_n) AS BIGINT)
           AS seasonal_index_ppm
FROM d, tot
""",
)
def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: each weekday's PER-DAY event rate
    indexed against the overall per-day rate (1e6 = average; Mondays at
    1.2e6 run 20% hot) — the multiplier table a seasonal forecast or an
    anomaly threshold applies before comparing days. Normalizing by the
    number of CALENDAR DAYS each weekday contributes removes the bias a
    30-day month has (some weekdays occur 5 times, others 4).

    The index is a ratio of integer cross-products with one ppm floor
    division — bit-stable. One scan, one 7-row aggregate."""
    from ..sources.catalog import read_events

    ev = read_events(spark, sf_dir)
    # ISO day number (Monday=1..Sunday=7) on BOTH engines: DuckDB isodow
    # vs Spark weekday()+1 — the builtin dayofweek() conventions differ
    # (Spark Sunday=1, DuckDB Sunday=0).
    d = ev.groupBy(
        (F.expr("weekday(ts)") + 1).cast("long").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_days"),
    )
    tot = d.agg(
        F.sum("n").alias("tot_n"), F.sum("n_days").alias("tot_days")
    )
    return d.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n",
        "n_days",
        F.expr(
            "CAST((n * tot_days) * 1000000 div (n_days * tot_n) AS BIGINT)"
        ).alias("seasonal_index_ppm"),
    )


# ---------------------------------------- Holt linear-trend forecasting

# ONE SQL text executed verbatim by BOTH engines (the trade_reach_hops
# contract): Holt's double exponential smoothing with alpha = beta = 1/2,
# INTEGER form — each recurrence step is floor((..)/2) on exact bigint
# cents, so level/trend are bit-exact under any engine and the only
# floats are the transient /2.0 divisions of values far below 2^52.
HOLT_SQL = """
WITH RECURSIVE
m AS (
    SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS mon,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
    FROM orders GROUP BY 1
),
idx AS (
    SELECT mon, y, CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS t
    FROM m
),
holt AS (
    SELECT t, mon, y, y AS l, CAST(0 AS BIGINT) AS b
    FROM idx WHERE t = 1
    UNION ALL
    SELECT i.t, i.mon, i.y,
           CAST(floor((i.y + h.l + h.b) / 2.0) AS BIGINT),
           CAST(floor((CAST(floor((i.y + h.l + h.b) / 2.0) AS BIGINT)
                       - h.l + h.b) / 2.0) AS BIGINT)
    FROM idx i JOIN holt h ON i.t = h.t + 1
)
SELECT mon, y AS revenue_c, l AS level_c, b AS trend_c,
       l + b AS forecast_next_c
FROM holt
"""


@query("holt_forecast_revenue", oracle=HOLT_SQL)
def q_holt_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level + linear trend) smoothing of monthly
    revenue with a one-step-ahead forecast per month — the trend-aware
    upgrade of the single-EWMA `forecast_revenue`/`ewma_events` family:
    l_t = (y_t + l_{t-1} + b_{t-1})/2, b_t = (l_t - l_{t-1} + b_{t-1})/2
    (alpha = beta = 1/2), evaluated as an INTEGER recurrence on cents so
    both engines produce identical bigints.

    The sequential recurrence is a RECURSIVE CTE over the MONTH table —
    the recursion's working set is O(months), never the fact table
    (orders aggregates to months in one hash-agg before any recursion),
    which is exactly how a sequential model should meet a distributed
    engine: reduce first, recurse over the reduced series. The oracle is
    this same SQL text run verbatim by DuckDB."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(HOLT_SQL)


# ------------------------------------------- rolling-origin backtest (MASE)

MASE_MIN_T = 8  # first eval point: all three forecasters defined (lag 7 + 1)


def _mase_sql(idiv, dayseq) -> str:
    """Rolling-origin one-step-ahead backtest over the per-DAY revenue
    series, parameterized on the engine's integer-division idiom
    (``a div b`` on Spark, ``a // b`` on DuckDB — the same two-dialect
    trick as ``_simhash_expr``) and its calendar-series idiom
    (``explode(sequence(...))`` vs ``unnest(generate_series(...))``).
    The observed series is DENSIFIED onto the full min..max calendar
    with y = 0 for orderless days — zero revenue on a day with no
    orders is a true zero, not missing data — so the row-offset lags
    are literal calendar offsets ("yesterday", "same weekday last
    week") even when the raw stream has gap days (it does at sf0.001:
    1094 observed days over a 2405-day span). All arithmetic is bigint
    cents, so both engines produce identical rows."""
    prev = (
        "OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND 1 PRECEDING)"
    )
    return f"""
WITH observed AS (
    SELECT o_orderdate AS day,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
    FROM orders GROUP BY 1
),
bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM observed),
cal AS (SELECT {dayseq("dmin", "dmax")} AS day FROM bounds),
daily AS (
    SELECT c.day, CAST(coalesce(o.y, 0) AS BIGINT) AS y
    FROM cal c LEFT JOIN observed o ON o.day = c.day
),
w AS (
    SELECT y,
           row_number() OVER (ORDER BY day) AS t,
           lag(y, 1) OVER (ORDER BY day) AS p_naive,
           lag(y, 7) OVER (ORDER BY day) AS p_snaive7,
           {idiv(f'sum(y) {prev}', f'count(y) {prev}')} AS p_expmean
    FROM daily
),
e AS (
    SELECT count(*) AS n,
           sum(abs(y - p_naive)) AS sae_naive,
           sum(abs(y - p_snaive7)) AS sae_snaive7,
           sum(abs(y - p_expmean)) AS sae_expmean
    FROM w WHERE t >= {MASE_MIN_T}
)
SELECT method, n_evals, mae_c, mase_ppm FROM (
    SELECT 'naive' AS method, n AS n_evals,
           CAST({idiv('sae_naive', 'n')} AS BIGINT) AS mae_c,
           CAST({idiv('sae_naive * 1000000', 'sae_naive')} AS BIGINT)
               AS mase_ppm
    FROM e
    UNION ALL
    SELECT 'snaive7' AS method, n AS n_evals,
           CAST({idiv('sae_snaive7', 'n')} AS BIGINT) AS mae_c,
           CAST({idiv('sae_snaive7 * 1000000', 'sae_naive')} AS BIGINT)
               AS mase_ppm
    FROM e
    UNION ALL
    SELECT 'expmean' AS method, n AS n_evals,
           CAST({idiv('sae_expmean', 'n')} AS BIGINT) AS mae_c,
           CAST({idiv('sae_expmean * 1000000', 'sae_naive')} AS BIGINT)
               AS mase_ppm
    FROM e
) u
"""


MASE_SPARK_SQL = _mase_sql(
    lambda a, b: f"(({a}) div ({b}))",
    lambda lo, hi: f"explode(sequence({lo}, {hi}))",
)
MASE_DUCK_SQL = _mase_sql(
    lambda a, b: f"(({a}) // ({b}))",
    lambda lo, hi: (
        f"CAST(unnest(generate_series({lo}, {hi}, INTERVAL 1 DAY)) AS DATE)"
    ),
)


@query("forecast_backtest_mase", oracle=MASE_DUCK_SQL)
def q_forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step-ahead forecast BACKTEST — the evaluation
    half the forecasting family (`forecast_revenue`, `holt_forecast_revenue`,
    `trend_fit_events`) was missing: every day t >= {MASE_MIN_T} of the
    daily-revenue series is forecast by three methods fitted only on days
    < t (naive = yesterday, snaive7 = same weekday last week, expmean =
    floor of the expanding mean), and each method is scored by MAE in
    cents plus MASE x 1e6 against the naive baseline (ratio of
    sum-absolute-errors over the identical eval window, so no double
    rounding). mase_ppm < 1e6 means the method beats persistence — the
    standard go/no-go gate before shipping a forecaster.

    The daily series is DENSIFIED onto the full min..max calendar with
    y = 0 for orderless days before any lag runs (zero revenue on a day
    with no orders is a true zero, not missing data), so the row-offset
    lags are literal calendar offsets even on a gappy stream — the
    sf0.001 orders table has gaps (1094 observed days over a 2405-day
    span), which would otherwise silently turn "yesterday" into
    "previous observation". Gap semantics pinned by
    tests/test_operators.py::test_forecast_backtest_mase_gap_days.

    Scale: the fact table collapses to the per-DAY series in one hash-agg
    before any window runs; the order-only windows operate on a
    calendar-bounded series (BOUNDED_FRAME_WINDOWS-justified, like
    `cusum_change_point`). Integer cents + integer division everywhere;
    the oracle is the same SQL text modulo the engines' int-div idiom."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(MASE_SPARK_SQL)


# --------------------------- point-in-time feature join (feature store)

def _pit_sql(datediff_, prevday, dayseq) -> str:
    """Point-in-time-correct feature assembly, shared SQL text modulo the
    engines' date idioms (``datediff``/``date_sub`` on Spark vs ``-`` on
    DuckDB — the _mase_sql dialect-lambda pattern).

    Leak-freedom is STRUCTURAL, not filtered after the fact: customer
    history windows use ROWS ... 1 PRECEDING over the per-(customer, day)
    rollup (one row per day, so "1 preceding" IS "strictly earlier day"),
    and the market feature equi-joins on example day - 1 — no feature
    value can come from the example's own day or later."""
    return f"""
WITH cust_day AS (
    SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_c
    FROM orders GROUP BY 1, 2
),
cust_feat AS (
    SELECT cust, day,
           CAST(coalesce(sum(n_orders) OVER w, 0) AS BIGINT)
               AS prior_orders,
           CAST(coalesce(sum(rev_c) OVER w, 0) AS BIGINT)
               AS prior_revenue_c,
           CAST({datediff_("day", "lag(day) OVER (PARTITION BY cust ORDER BY day)")}
                AS BIGINT) AS days_since_prev
    FROM cust_day
    WINDOW w AS (PARTITION BY cust ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
mkt_obs AS (
    SELECT day, CAST(sum(rev_c) AS BIGINT) AS mrev
    FROM cust_day GROUP BY 1
),
mkt_bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM mkt_obs),
mkt_cal AS (SELECT {dayseq("dmin", "dmax")} AS day FROM mkt_bounds),
mkt_day AS (
    SELECT c.day, CAST(coalesce(o.mrev, 0) AS BIGINT) AS mrev
    FROM mkt_cal c LEFT JOIN mkt_obs o ON o.day = c.day
),
mkt_cum AS (
    SELECT day,
           CAST(sum(mrev) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS cum_c
    FROM mkt_day
)
SELECT o.o_orderkey, o.o_custkey, f.day AS o_orderdate,
       f.prior_orders, f.prior_revenue_c, f.days_since_prev,
       CAST(coalesce(m.cum_c, 0) AS BIGINT) AS mkt_prev_cum_c
FROM orders o
JOIN cust_feat f ON f.cust = o.o_custkey
                AND f.day = CAST(o.o_orderdate AS DATE)
LEFT JOIN mkt_cum m ON m.day = {prevday("f.day")}
"""


PIT_SPARK_SQL = _pit_sql(
    lambda a, b: f"datediff({a}, {b})",
    lambda d: f"date_sub({d}, 1)",
    lambda lo, hi: f"explode(sequence({lo}, {hi}))",
)
PIT_DUCK_SQL = _pit_sql(
    lambda a, b: f"datediff('day', {b}, {a})",
    lambda d: f"({d} - 1)",
    lambda lo, hi: (
        f"CAST(unnest(generate_series({lo}, {hi}, INTERVAL 1 DAY)) AS DATE)"
    ),
)


@query("point_in_time_features", oracle=PIT_DUCK_SQL)
def q_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training-feature assembly — the feature-store
    join every supervised pipeline on event data needs: for each order
    (the training example), attach (a) the customer's history STRICTLY
    before the example day (prior order count, prior revenue in cents,
    days since the previous order-day) and (b) a market-level feature as
    of the previous calendar day (cumulative market revenue). A feature
    computed WITH the example's own day — or any later day — is label
    leakage; here that is impossible by construction (strict window
    frames + a day-minus-one equi-join), not by a post-hoc filter. The
    same SQL text runs on both engines modulo date idioms, so the whole
    feature matrix is value-hash-checked.

    Scale: one (customer, day) hash-agg, one customer-keyed window, a
    |days|-row market rollup (its order-only cumsum is calendar-bounded
    — BOUNDED_FRAME_WINDOWS), and two equi-joins back to the fact table;
    no inequality join anywhere (the dense day-minus-one key replaces
    the as-of search that `asof_join_orders` needs for irregular
    timestamps). The market table broadcast-joins (|days| rows)."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(PIT_SPARK_SQL)


# ------------------------------ exact trailing-window distinct users

ROLLING_DISTINCT_HOURS = 24  # trailing window width in hour buckets


@query(
    "rolling_distinct_users",
    oracle=f"""
WITH uh AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h
    FROM events
),
hours AS (SELECT DISTINCT h FROM uh),
nxt AS (
    SELECT user_id, h,
           lead(h) OVER (PARTITION BY user_id ORDER BY h) AS nh
    FROM uh
),
contrib AS (
    SELECT u.user_id, hh.h AS wh
    FROM nxt u
    JOIN hours hh
      ON hh.h BETWEEN u.h
         AND least(u.h + {ROLLING_DISTINCT_HOURS - 1},
                   coalesce(u.nh - 1,
                            u.h + {ROLLING_DISTINCT_HOURS - 1}))
)
SELECT wh AS hour_bucket,
       CAST(count(*) AS BIGINT) AS active_users_24h
FROM contrib GROUP BY wh
""",
)
def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-{ROLLING_DISTINCT_HOURS}-hour distinct active users
    at every observed hour — the rolling-DAU metric. Distinct-over-a-
    sliding-window does not decompose like a sum (`rolling_range_frame`)
    and is why `sketch_rollup_users` exists; this is the exact
    counterpart, via the interval-coverage identity: a user counts in
    the window ending at hour H iff they have an active hour a with
    a <= H <= a + {ROLLING_DISTINCT_HOURS - 1} and no later active hour
    <= H, so each (user, active-hour, next-active-hour) triple covers
    the hour interval [a, min(a + {ROLLING_DISTINCT_HOURS - 1},
    next - 1)] — intervals are disjoint per user, so a plain COUNT over
    the coverage join IS the distinct count, with no window-sized state
    and no count(DISTINCT) over data-sized frames.

    Plan: one (user, hour) distinct hash-agg, one user-keyed lead
    window, then a broadcast range-join against the bounded
    distinct-hour table (|hours| rows) and an hour-keyed count — every
    shuffle is keyed by user or hour, nothing is corpus-sized per task.
    The same shape serves trailing-7d WAU by changing the constants."""
    ev = read_events(spark, sf_dir)
    uh = (
        ev.select(
            "user_id",
            (epoch_us("ts") / F.lit(3_600_000_000)).cast("long").alias(
                "h"
            ),
        )
        .distinct()
    )
    hours = uh.select("h").distinct()
    w = Window.partitionBy("user_id").orderBy("h")
    span = ROLLING_DISTINCT_HOURS - 1
    nxt = uh.withColumn("nh", F.lead("h").over(w)).withColumn(
        "hi",
        F.least(
            F.col("h") + span,
            F.coalesce(F.col("nh") - 1, F.col("h") + span),
        ),
    )
    contrib = nxt.join(
        F.broadcast(hours.withColumnRenamed("h", "wh")),
        (F.col("wh") >= F.col("h")) & (F.col("wh") <= F.col("hi")),
    )
    return contrib.groupBy(F.col("wh").alias("hour_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("active_users_24h")
    )


# ----------------------------------------- sweep-line peak concurrency

_PEAK_ORACLE = """
WITH iv AS (
    SELECT CAST(ts AS DATE) AS day, user_id,
           min(epoch_us(ts)) AS s_us, max(epoch_us(ts)) AS e_us
    FROM events GROUP BY 1, 2
),
bnd AS (
    SELECT day, s_us AS t_us, CAST(1 AS BIGINT) AS delta, user_id FROM iv
    UNION ALL
    SELECT day, e_us + 1 AS t_us, CAST(-1 AS BIGINT) AS delta, user_id
    FROM iv
),
runsum AS (
    SELECT day,
           sum(delta) OVER (PARTITION BY day
                            ORDER BY t_us, delta, user_id) AS cur
    FROM bnd
)
SELECT day, CAST(max(cur) AS BIGINT) AS peak_concurrency,
       CAST(count(*) // 2 AS BIGINT) AS n_intervals
FROM runsum GROUP BY 1
"""


@query("peak_concurrency", oracle=_PEAK_ORACLE)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: each user's daily activity span
    [first event, last event] becomes a +1/-1 boundary pair; the maximum
    of the running boundary sum per day is the day's peak number of
    simultaneously-active users — the capacity metric behind "how many
    concurrent sessions must this tier serve". Ends sort at e+1us with
    delta -1 BEFORE any same-instant start (inclusive-span semantics),
    and (t, delta, user_id) totally orders the sweep so the running
    maximum is partition-placement-independent on both engines.

    Scale shape: the fact table reduces to one interval per (day, user)
    in a single hash-agg; the sweep itself is a day-partitioned window
    over 2 boundaries per interval — days are numerous (no few-huge-group
    straggler risk; contrast `grouped_prefix_sum`'s use cases), and the
    final peak is one more hash-agg."""
    events = read_events(spark, sf_dir)
    iv = (
        events.withColumn("ts_us", epoch_us(F.col("ts")))
        .groupBy(
            F.to_date("ts").alias("day"), "user_id"
        )
        .agg(
            F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us")
        )
    )
    bnd = iv.select(
        "day", F.col("s_us").alias("t_us"),
        F.lit(1).cast("long").alias("delta"), "user_id"
    ).unionByName(
        iv.select(
            "day", (F.col("e_us") + 1).alias("t_us"),
            F.lit(-1).cast("long").alias("delta"), "user_id"
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t_us", "delta", "user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runsum = bnd.withColumn("cur", F.sum("delta").over(w))
    return runsum.groupBy("day").agg(
        F.max("cur").cast("long").alias("peak_concurrency"),
        F.floor(F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
    )


# ---------------------- Holt-Winters additive seasonal smoothing (m = 7)

HW_M = 7  # weekly season register


_HW_IDX_SQL = """
daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS y
    FROM events GROUP BY 1
),
hw_idx AS (
    SELECT day, y, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
)"""


def _hw_sql() -> str:
    """One WITH RECURSIVE text shared verbatim by both engines (the
    `holt_forecast_revenue` pattern): the seasonal state rides along as
    {m} explicit register columns s0..s{m-1}, one of which updates per
    step (CASE on the step's day-of-series mod {m}) — no arrays, so the
    recursion stays in plain cross-dialect SQL."""
    m = HW_M
    regs = ", ".join(f"CAST(0 AS BIGINT) AS s{k}" for k in range(m))
    sprev = (
        "CASE (i.t - 1) % 7 "
        + " ".join(f"WHEN {k} THEN h.s{k}" for k in range(m))
        + " END"
    )
    supd = ", ".join(
        f"CAST(CASE WHEN (i.t - 1) % 7 = {k} "
        f"THEN floor((i.y - lnew + sprev) / 2.0) "
        f"ELSE h.s{k} END AS BIGINT) AS s{k}"
        for k in range(m)
    )
    snext = (
        "CASE t % 7 "
        + " ".join(f"WHEN {k} THEN s{k}" for k in range(m))
        + " END"
    )
    return f"""
WITH RECURSIVE
hw AS (
    SELECT t, day, y, y AS l, CAST(0 AS BIGINT) AS b, {regs}
    FROM hw_idx WHERE t = 1
    UNION ALL
    SELECT i.t, i.day, i.y, lnew, 
           CAST(floor((lnew - h.l + h.b) / 2.0) AS BIGINT) AS b,
           {supd}
    FROM hw_idx i JOIN hw h ON i.t = h.t + 1,
         LATERAL (SELECT {sprev} AS sprev) sp,
         LATERAL (SELECT CAST(floor((i.y - sprev + h.l + h.b) / 2.0)
                          AS BIGINT) AS lnew) ln
)
SELECT day, y AS value_milli, l AS level_milli, b AS trend_milli,
       {snext} AS season_next_milli,
       l + b + {snext} AS forecast_next_milli
FROM hw
"""


def _hw_oracle() -> str:
    body = _hw_sql()
    assert body.startswith("\nWITH RECURSIVE\n")
    return (
        "WITH RECURSIVE "
        + _HW_IDX_SQL.strip()
        + ",\n"
        + body[len("\nWITH RECURSIVE\n"):]
    )


@query("holt_winters_daily", oracle=_hw_oracle())
def q_holt_winters_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE-SEASONAL smoothing (triple exponential)
    of the daily events value series with weekly (m={m}) seasonality —
    completes the smoothing ladder EWMA (`ewma_events`) -> level+trend
    (`holt_forecast_revenue`) -> level+trend+season:
    l_t = (y_t - s_(t-m) + l_(t-1) + b_(t-1)) / 2,
    b_t = (l_t - l_(t-1) + b_(t-1)) / 2,
    s_t = (y_t - l_t + s_(t-m)) / 2  (alpha = beta = gamma = 1/2,
    floored integer milli-units; seasonal register zero-initialized —
    a DEFINED deterministic model, converging within a few weeks like
    any zero-state exponential smoother). One-step-ahead forecast =
    l + b + s_(next dow).

    The recurrence is ONE recursive-CTE SQL text run verbatim by both
    engines; the seasonal lag s_(t-m) rides as {m} explicit register
    columns, one updated per step. Scale: events reduce to O(days)
    rows in one hash-agg BEFORE any recursion (reduce first, recurse
    over the reduced series — the `holt_forecast_revenue` stance); the
    row_number is over that bounded day table. The observed series is
    calendar-dense at every tested SF (30/30 days); zero-event days
    would be true zeros, not gaps."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    # Round-10 shape: the recurrence runs over the CALENDAR-BOUNDED day
    # series, so after the one hash-agg reduce it executes as a single
    # grouped applyInPandas (the croston / burst_label_days precedent;
    # guide §4.2) instead of a 30-step Spark recursive CTE (~30
    # sequential micro-stages, measured 6.9 s at sf0.1 vs ~1 s now).
    # Bit-exact: every update is floor(int / 2.0), which equals Python's
    # integer floor-division for any |int| < 2^53; the oracle still runs
    # the recursive-CTE text verbatim.
    m = HW_M
    idx = spark.sql("WITH " + _HW_IDX_SQL.strip() + " SELECT * FROM hw_idx")

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t").reset_index(drop=True)
        ys = [int(v) for v in pdf["y"]]
        n = len(ys)
        lev = [0] * n
        trd = [0] * n
        snx = [0] * n
        s = [0] * m
        for i in range(n):
            t = int(pdf["t"][i])
            y = ys[i]
            if t == 1:
                l_, b_ = y, 0
            else:
                sprev = s[(t - 1) % m]
                lnew = (y - sprev + lev[i - 1] + trd[i - 1]) // 2
                b_ = (lnew - lev[i - 1] + trd[i - 1]) // 2
                s[(t - 1) % m] = (y - lnew + sprev) // 2
                l_ = lnew
            lev[i], trd[i] = l_, b_
            snx[i] = s[t % m]
        return pd.DataFrame(
            {
                "day": pdf["day"],
                "value_milli": ys,
                "level_milli": lev,
                "trend_milli": trd,
                "season_next_milli": snx,
                "forecast_next_milli": [
                    lev[i] + trd[i] + snx[i] for i in range(n)
                ],
            }
        )

    return idx.groupBy(F.lit(1).alias("__series")).applyInPandas(
        lambda _, pdf: smooth(pdf),
        "day date, value_milli bigint, level_milli bigint, "
        "trend_milli bigint, season_next_milli bigint, "
        "forecast_next_milli bigint",
    )


q_holt_winters_daily.__doc__ = q_holt_winters_daily.__doc__.format(m=HW_M)


# ------------------------- Croston intermittent-demand forecasting


def _croston_seq_sql(epochday) -> str:
    """The demand-sequence reduction (part x demand-day, epoch day,
    per-part sequence index) — parameterized on the engine's epoch-day
    idiom (Spark: datediff(col, DATE '1970-01-01'); DuckDB:
    col - DATE '1970-01-01'), the `_mase_sql` two-dialect trick."""
    return f"""
dem AS (
    SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS q_c
    FROM lineitem GROUP BY 1, 2
),
croston_seq AS (
    SELECT l_partkey, q_c,
           CAST({epochday('day')} AS BIGINT) AS ed,
           CAST(row_number() OVER (PARTITION BY l_partkey ORDER BY day)
                AS BIGINT) AS t
    FROM dem
)"""


# Recursion + final select over croston_seq — shared verbatim by both
# engines (no dialect tokens).
_CROSTON_REC = """
cr AS (
    SELECT l_partkey, t, q_c AS z_c, CAST(1000 AS BIGINT) AS p_milli
    FROM croston_seq WHERE t = 1
    UNION ALL
    SELECT s.t2 AS l_partkey, s.t3 AS t,
           CAST(floor((s.t4 + c.z_c) / 2.0) AS BIGINT) AS z_c,
           CAST(floor((s.t5 + c.p_milli) / 2.0) AS BIGINT) AS p_milli
    FROM (SELECT a.l_partkey AS t2, a.t AS t3, a.q_c AS t4,
                 (a.ed - b.ed) * 1000 AS t5
          FROM croston_seq a JOIN croston_seq b
            ON b.l_partkey = a.l_partkey AND b.t = a.t - 1) s
    JOIN cr c ON c.l_partkey = s.t2 AND c.t = s.t3 - 1
),
fin AS (
    SELECT c.l_partkey, c.z_c, c.p_milli, n.n_demands
    FROM cr c
    JOIN (SELECT l_partkey, CAST(max(t) AS BIGINT) AS n_demands
          FROM croston_seq GROUP BY 1) n
      ON n.l_partkey = c.l_partkey AND c.t = n.n_demands
)
SELECT l_partkey, n_demands, z_c, p_milli,
       CAST(floor(CAST(z_c * 1000 AS DOUBLE) / CAST(p_milli AS DOUBLE))
            AS BIGINT) AS rate_qc_per_day
FROM fin
WHERE p_milli > 0"""


_CROSTON_DUCK = (
    "WITH RECURSIVE "
    + _croston_seq_sql(lambda c: f"({c} - DATE '1970-01-01')").strip()
    + ",\n"
    + _CROSTON_REC.strip()
)
_CROSTON_SEQ_SPARK = _croston_seq_sql(
    lambda c: f"datediff({c}, DATE '1970-01-01')"
)


@query("croston_demand_forecast", oracle=_CROSTON_DUCK)
def q_croston_demand_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (1972) for INTERMITTENT demand — the
    per-part forecaster the smoothing ladder cannot express: a part
    sells on scattered days, so plain SES over the calendar decays to
    zero between demands. Croston runs TWO coupled SES recurrences
    only at demand points — demand size z_t = (q_t + z_(t-1))/2 and
    inter-demand interval p_t = (gap_t + p_(t-1))/2 (alpha = 1/2,
    floored integers; p in milli-days, init p_1 = 1 day) — and
    forecasts the demand RATE z/p per day.

    Execution shape: unlike the single-series recurrences (`holt_*`,
    `burst_detection_days`) this is MANY independent short recurrences
    — one per part. Round-10 form: lineitem reduces to the (part,
    demand-day, qty) table in one hash-agg, a second hash-agg folds each
    part's demands into ONE sorted array (`array_sort(collect_list)` —
    epoch days are unique per part, so the struct order is total), and
    the coupled SES recurrence runs as a single FLAT `aggregate`
    higher-order function over that array — sequential per part,
    embarrassingly parallel across parts, with NO Python boundary at
    all (guide §4.1; the previous grouped-`applyInPandas` form paid one
    Python call + pandas frame per part ≈ the whole 9.9 s row; nested
    HOFs are the slow case, one flat fold is not). The recursive-CTE
    formulation was measured 45-127 s at sf0.1 because every recursion
    step rejoins the FULL gap table. The ORACLE keeps the recursive-CTE
    text (DuckDB materializes CTEs), so the two engines derive the same
    integers through genuinely different execution strategies. The
    floored halvings are `div 2` on non-negative bigints (identical to
    floor(x/2.0) there); the closing rate is floor'd double division in
    both engines (IEEE-correctly rounded)."""
    dem = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy(
            "l_partkey", F.col("l_shipdate").cast("date").alias("day")
        )
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .cast("long")
            .alias("q_c")
        )
        .select(
            "l_partkey",
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("ed"),
            "q_c",
        )
    )
    seq = dem.groupBy("l_partkey").agg(
        F.array_sort(F.collect_list(F.struct("ed", "q_c"))).alias("s")
    )
    fit = seq.select(
        "l_partkey",
        F.size("s").cast("long").alias("n_demands"),
        F.expr(
            "aggregate(slice(s, 2, size(s) - 1),"
            " named_struct('z', s[0].q_c,"
            "              'p', CAST(1000 AS BIGINT),"
            "              'prev', s[0].ed),"
            " (acc, x) -> named_struct("
            "   'z', (x.q_c + acc.z) div 2,"
            "   'p', ((x.ed - acc.prev) * 1000 + acc.p) div 2,"
            "   'prev', x.ed))"
        ).alias("st"),
    )
    return fit.select(
        "l_partkey",
        "n_demands",
        F.col("st.z").alias("z_c"),
        F.col("st.p").alias("p_milli"),
        F.expr(
            "CAST(floor(CAST(st.z * 1000 AS DOUBLE)"
            " / CAST(st.p AS DOUBLE)) AS BIGINT)"
        ).alias("rate_qc_per_day"),
    ).where(F.col("p_milli") > 0)


# -------------------- Kleinberg-style two-state burst detection (Viterbi)

BURST_S_LN_MICRO = 48_790  # floor(ln(1.05) * 1e6): burst rate = 1.05x base
BURST_GAMMA_MICRO = 500_000  # cost of entering the burst state

_BURST_DAILY_SQL = """
daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1
)"""

# par/idx/em over a `daily` relation — shared by the batch query (daily
# from events) and the streaming monitor's serve path (daily = merged
# count partials); the scoring automaton cannot drift between tiers.
_BURST_EM_TAIL = f"""
par AS (
    SELECT CAST(count(*) AS BIGINT) AS d, CAST(sum(x) AS BIGINT) AS tot
    FROM daily
),
idx AS (
    SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
    FROM daily
),
burst_em AS (
    SELECT i.t, i.day, i.x,
           CAST(floor(CAST(p.tot * 50000 AS DOUBLE) / CAST(p.d AS DOUBLE))
                AS BIGINT) - i.x * {BURST_S_LN_MICRO} AS d1
    FROM idx i CROSS JOIN par p
)"""

_BURST_FWD_BODY = f"""
burst_fwd AS (
    SELECT t, day, x, d1,
           CAST(0 AS BIGINT) AS c0,
           CAST({BURST_GAMMA_MICRO} + d1 AS BIGINT) AS c1,
           CAST(0 AS BIGINT) AS p0, CAST(0 AS BIGINT) AS p1
    FROM burst_em WHERE t = 1
    UNION ALL
    SELECT e.t, e.day, e.x, e.d1,
           CAST(CASE WHEN f.c0 <= f.c1 THEN f.c0 ELSE f.c1 END AS BIGINT),
           CAST(CASE WHEN f.c0 + {BURST_GAMMA_MICRO} <= f.c1
                     THEN f.c0 + {BURST_GAMMA_MICRO} ELSE f.c1 END
                + e.d1 AS BIGINT),
           CAST(CASE WHEN f.c0 <= f.c1 THEN 0 ELSE 1 END AS BIGINT),
           CAST(CASE WHEN f.c0 + {BURST_GAMMA_MICRO} <= f.c1
                     THEN 0 ELSE 1 END AS BIGINT)
    FROM burst_em e JOIN burst_fwd f ON e.t = f.t + 1
)"""

_BURST_BWD_BODY = """
fin AS (SELECT max(t) AS tmax FROM burst_fwd),
bwd AS (
    SELECT f.t,
           CAST(CASE WHEN f.c1 < f.c0 THEN 1 ELSE 0 END AS BIGINT) AS st
    FROM burst_fwd f CROSS JOIN fin WHERE f.t = fin.tmax
    UNION ALL
    SELECT b.t - 1,
           CAST(CASE WHEN b.st = 1 THEN f2.p1 ELSE f2.p0 END AS BIGINT)
    FROM bwd b JOIN burst_fwd f2 ON f2.t = b.t
    WHERE b.t > 1
)"""

_BURST_TAIL = """
SELECT f.day, f.x, f.d1 AS burst_margin_micro, f.c0, f.c1,
       b.st AS in_burst
FROM burst_fwd f JOIN bwd b ON b.t = f.t"""

# DuckDB materializes CTEs, so the oracle is the whole thing as one text.
_BURST_ORACLE = (
    "WITH RECURSIVE "
    + _BURST_DAILY_SQL.strip()
    + ",\n"
    + _BURST_EM_TAIL.strip()
    + ",\n"
    + _BURST_FWD_BODY.strip()
    + ",\n"
    + _BURST_BWD_BODY.strip()
    + "\n"
    + _BURST_TAIL
)


def burst_label_days(daily_df) -> DataFrame:
    """Run the two-state burst automaton over a (day, x) daily-count
    frame — the SHARED scoring body of the batch `burst_detection_days`
    query and the streaming monitor's `serve_burst` (the counts are
    additive partials, so the streamed merge feeds the identical
    automaton).

    Round-10 shape: the series is calendar-bounded (the corpus reduced
    to O(days) rows BEFORE this is called), so the whole Viterbi —
    emissions, forward pass, backtrack — runs as ONE grouped
    applyInPandas over the single series (the croston recurrence
    precedent; guide §4.2). The previous form ran TWO 30-step Spark
    recursive CTEs = ~60 sequential micro-stages, measured 9.2 s at
    sf0.1 vs ~1 s now. Arithmetic is unchanged and bit-exact: the one
    float op is floor(double(tot*50000) / double(d)) — both operands
    exactly representable, identical IEEE division in Python — and
    everything after is integer compares/adds (the oracle still runs
    the recursive-CTE text verbatim)."""
    gamma = BURST_GAMMA_MICRO
    lns = BURST_S_LN_MICRO

    def viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        d = len(pdf)
        xs = [int(v) for v in pdf["x"]]
        tot = sum(xs)
        base = math.floor(float(tot * 50000) / float(d))
        d1 = [base - x * lns for x in xs]
        c0 = [0] * d
        c1 = [0] * d
        p0 = [0] * d
        p1 = [0] * d
        c1[0] = gamma + d1[0]
        for t in range(1, d):
            c0[t] = c0[t - 1] if c0[t - 1] <= c1[t - 1] else c1[t - 1]
            p0[t] = 0 if c0[t - 1] <= c1[t - 1] else 1
            enter = c0[t - 1] + gamma
            c1[t] = (enter if enter <= c1[t - 1] else c1[t - 1]) + d1[t]
            p1[t] = 0 if enter <= c1[t - 1] else 1
        st = [0] * d
        st[d - 1] = 1 if c1[d - 1] < c0[d - 1] else 0
        for t in range(d - 1, 0, -1):
            st[t - 1] = p1[t] if st[t] == 1 else p0[t]
        return pd.DataFrame(
            {
                "day": pdf["day"],
                "x": xs,
                "burst_margin_micro": d1,
                "c0": c0,
                "c1": c1,
                "in_burst": st,
            }
        )

    return (
        daily_df.select("day", "x")
        .groupBy(F.lit(1).alias("__series"))
        .applyInPandas(
            lambda _, pdf: viterbi(pdf),
            "day date, x bigint, burst_margin_micro bigint, "
            "c0 bigint, c1 bigint, in_burst bigint",
        )
    )


@query("burst_detection_days", oracle=_BURST_ORACLE)
def q_burst_detection_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg-style burst detection (Kleinberg, KDD 2002; 2-state
    automaton form) over the daily event-count series: a baseline state
    emitting at the global mean rate r0 and a burst state at 1.05x r0,
    with a {G} micro-nat charge for ENTERING the burst — the optimal
    state sequence (min total cost) labels each day in/out of burst.
    Where CUSUM (`cusum_change_point`) finds the single largest level
    shift and XmR flags isolated outlier days, the burst automaton
    finds contiguous EPISODES with a switching penalty — sustained
    small excursions count, single spikes do not.

    Exactness: emission-cost DIFFERENCES are what Viterbi needs, and
    for Poisson rates r0 vs s*r0 the difference is
    (s-1)*r0 - x*ln(s) per day — ln(s) enters only as the PINNED
    integer literal {LNS} micro-nats baked into the shared SQL text
    (no runtime ln; the one division is an IEEE-exact floor'd double).
    Forward pass AND backtrack are both recursions over the bounded
    O(days) table: forward carries (cost0, cost1, parent0, parent1),
    backward walks parent pointers from the cheaper final state
    (ties prefer baseline). Scale: events reduce to O(days) in one
    hash-agg before any recursion — the reduce-first stance of the
    forecasting family."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    # Spark INLINES CTEs instead of materializing them, so referencing
    # the forward recursion from inside the backward recursion would
    # re-expand it per backtrack step (O(days^2) recursive plans — it
    # never finishes), and each forward step would re-expand the
    # events aggregation (measured 25 s for a 30-step recursion).
    # Materialize the O(days) emission table and the forward pass once,
    # then run the SAME backward text over the materialized views;
    # DuckDB materializes CTEs natively, so the oracle keeps the single
    # combined text built from the identical bodies.
    daily = spark.sql("WITH " + _BURST_DAILY_SQL.strip() + " SELECT * FROM daily")
    return burst_label_days(daily)


q_burst_detection_days.__doc__ = q_burst_detection_days.__doc__.format(
    G=BURST_GAMMA_MICRO, LNS=BURST_S_LN_MICRO
)

"""Session-analysis job (reference UserVisitSessionAnalyzeSpark.java:45-188)
re-expressed over the driver ``events`` table.

The reference's clickstream has pre-assigned session ids; ``events`` does not,
so the engine first gap-sessionizes (30 min inactivity, the industry default),
then runs the reference's per-session aggregate (A1), conditional filter (P2),
bin histogram (A3), hour histogram (A2), detail semi-join (J2) and stratified
extraction (R1) on top. Every query here has a DuckDB oracle; determinism
comes from integer-microsecond time math, total ordering (ts, event_id), and
md5-based pseudo-randomness instead of engine-specific rand().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import (
    cache_partitioned,
    per_snapshot,
    read_events,
    read_table,
)

from ..operators.sessionize import session_aggregate, sessionize
from ..operators.aggregates import SESSION_BINS, session_bin_ratios
from ..operators.sampling import stratified_sample_exact
from . import query

GAP_MINUTES = 30

# Shared DuckDB CTE: gap-sessionization of events (mirror of operators.sessionize).
SESS_CTE = """
flagged AS (
    SELECT *,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT * EXCLUDE (is_new),
           CAST(user_id AS VARCHAR) || '_' ||
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS session_id
    FROM flagged
),
sess_agg AS (
    SELECT session_id,
           min(user_id) AS user_id,
           count(*) AS step_length,
           (max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS visit_length,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS payloads,
           min(ts) AS start_time
    FROM sess GROUP BY session_id
)
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_events(spark, sf_dir)


def _sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(
        _events(spark, sf_dir),
        user_col="user_id",
        ts_col="ts",
        gap_minutes=GAP_MINUTES,
        tiebreak_col="event_id",
        prev_col="event_type",
    ).withColumns(
        {
            "date_key": F.date_format("ts", "yyyy-MM-dd"),
            "hour_key": F.hour("ts").cast("long"),
            "category_id": F.get_json_object(F.col("props"), "$.k").cast("long"),
        }
    )


def _sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-level session base, cached once per snapshot of
    ``events.parquet`` and shared by the session family, ``funnel``,
    ``stratified_sample`` and the top-10 queries. Besides the events'
    columns and ``session_id`` it carries the per-row columns those
    queries derive, computed once here: ``prev_event_type`` (the
    in-session predecessor's type), ``date_key``, ``hour_key`` and
    ``category_id`` (``props`` ``$.k``). The cache keeps the window's
    ``user_id`` hash partitioning, so the rollup and any aggregate keyed
    by user add no shuffle on top of it."""
    return per_snapshot(
        spark,
        "sessionized",
        f"{sf_dir}/events.parquet",
        lambda: cache_partitioned(spark, lambda s: _sessionize_events(s, sf_dir)),
    )


def _session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup of ``_sessionized``, cached per snapshot too."""
    return per_snapshot(
        spark,
        "session_agg",
        f"{sf_dir}/events.parquet",
        lambda: session_aggregate(_sessionized(spark, sf_dir)).cache(),
    )


@query(
    "session_agg",
    oracle=f"WITH {SESS_CTE} SELECT * FROM sess_agg",
)
def q_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: sessionize + per-session stats (step_length, visit_length, distinct
    payloads, start time). Reference: UserVisitSessionAnalyzeSpark.java:304-421."""
    return _session_agg(spark, sf_dir)


_STATS_ORACLE = (
    f"WITH {SESS_CTE} SELECT count(*) AS session_count, "
    + ", ".join(
        f"round(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) / count(*), 2)"
        f" AS {name}_ratio"
        for name, cond in SESSION_BINS.items()
    )
    + " FROM sess_agg"
)


@query("session_stats", oracle=_STATS_ORACLE)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: one-pass visit-length / step-length histogram with HALF_UP 2dp
    ratios. Replaces the reference's custom string accumulator
    (SessionAggrStatAccumulator.java:18-90) with conditional aggregation."""
    return session_bin_ratios(_session_agg(spark, sf_dir))


# P2 demographic filter params, mapped onto the customer dimension
# (FIXTURES.md maps user_info ≈ customer). Reference semantics: every predicate
# optional; in-list membership; numeric between; any-overlap of comma lists
# (ValidUtils.java:19-98).
_FILTER_SEGMENTS = ("AUTOMOBILE", "BUILDING", "MACHINERY")
_FILTER_MIN_BAL = 0.0
_FILTER_MAX_BAL = 8000.0
_FILTER_KEYWORDS = ("click", "purchase")

@query(
    "session_filter",
    oracle=f"""
WITH {SESS_CTE}
SELECT a.session_id, a.user_id, a.step_length, a.visit_length, a.payloads,
       c.c_mktsegment AS mktsegment, c.c_acctbal AS acctbal
FROM sess_agg a JOIN customer c ON a.user_id = c.c_custkey
WHERE c.c_acctbal BETWEEN {_FILTER_MIN_BAL} AND {_FILTER_MAX_BAL}
  AND c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')
  AND list_has_any(string_split(a.payloads, ','), ['click', 'purchase'])
""",
)
def q_session_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 + J1: multi-criteria session filter against the user dimension.
    Reference: UserVisitSessionAnalyzeSpark.java:505-669 builds the predicate
    string imperatively; here it is a conditional ``where`` chain and the
    any-overlap semantics (ValidUtils.in) is ``arrays_overlap``. The dimension
    join strategy is left to Catalyst/AQE — the user dim is
    SF-proportional, so a forced broadcast would OOM at scale (locally it
    auto-broadcasts under the threshold)."""
    agg = _session_agg(spark, sf_dir)
    cust = read_table(spark, sf_dir, "customer")
    joined = agg.join(
        cust, agg["user_id"] == cust["c_custkey"], "inner"
    )
    return (
        joined.where(F.col("c_acctbal").between(_FILTER_MIN_BAL, _FILTER_MAX_BAL))
        .where(F.col("c_mktsegment").isin(*_FILTER_SEGMENTS))
        .where(
            F.arrays_overlap(
                F.split(F.col("payloads"), ","),
                F.array(*[F.lit(k) for k in _FILTER_KEYWORDS]),
            )
        )
        .select(
            "session_id",
            "user_id",
            "step_length",
            "visit_length",
            "payloads",
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


@query(
    "session_detail",
    oracle=f"""
WITH {SESS_CTE}
SELECT e.event_id, e.session_id, e.user_id, e.event_type, e.value
FROM sess e
WHERE e.session_id IN (SELECT session_id FROM sess_agg WHERE step_length >= 2)
""",
)
def q_session_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: recover detail rows of qualifying sessions via left-semi join.
    The reference does inner-join + project (UserVisitSessionAnalyzeSpark.java:
    679-698); semantics are a semi-join, which shuffles only the key column."""
    qualifying = (
        _session_agg(spark, sf_dir)
        .where(F.col("step_length") >= 2)
        .select("session_id")
    )
    return (
        _sessionized(spark, sf_dir)
        .join(qualifying, "session_id", "left_semi")
        .select("event_id", "session_id", "user_id", "event_type", "value")
    )


@query(
    "hour_histogram",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS date_key,
       CAST(hour(ts) AS BIGINT) AS hour_key,
       count(*) AS cnt
FROM events GROUP BY 1, 2
""",
)
def q_hour_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: sessions-per-(day,hour) histogram, kept distributed (the reference
    countByKey's to the driver, UserVisitSessionAnalyzeSpark.java:712-736)."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("date_key"),
            F.hour("ts").cast("long").alias("hour_key"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "stratified_sample",
    oracle="""
WITH keyed AS (
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d') AS date_key,
           CAST(hour(ts) AS BIGINT) AS hour_key
    FROM events
),
hour_counts AS (
    SELECT date_key, hour_key, count(*) AS n_h FROM keyed GROUP BY 1, 2
),
day_counts AS (
    SELECT date_key, count(*) AS n_d FROM keyed GROUP BY 1
),
quotas AS (
    SELECT h.date_key, h.hour_key,
           least(h.n_h, CAST(floor(h.n_h * 100.0 / d.n_d) AS BIGINT)) AS quota
    FROM hour_counts h JOIN day_counts d USING (date_key)
),
ranked AS (
    SELECT k.*,
           row_number() OVER (
               PARTITION BY k.date_key, k.hour_key
               ORDER BY md5(CAST(k.event_id AS VARCHAR)), k.event_id
           ) AS rnk
    FROM keyed k
)
SELECT r.event_id, r.user_id, r.event_type, r.date_key, r.hour_key
FROM ranked r JOIN quotas q USING (date_key, hour_key)
WHERE r.rnk <= q.quota
""",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: time-stratified extraction — ~100 rows/day split across hours
    proportionally to each hour's share (reference formula
    UserVisitSessionAnalyzeSpark.java:803-807, incl. its floor truncation).

    Deterministic + distributed: rows ranked inside each (day,hour) stratum by
    md5(event_id) (engine-portable pseudo-randomness; the reference draws
    unseeded random indices on the driver and broadcasts them, :818-860)."""
    keyed = _sessionized(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "date_key", "hour_key"
    )
    return stratified_sample_exact(
        keyed, ["date_key"], ["hour_key"], "event_id", per_parent=100
    )


@query(
    "bounce_rate_daily",
    oracle=f"""
WITH {SESS_CTE}
SELECT CAST(start_time AS DATE) AS date_key,
       count(*) AS n_sessions,
       CAST(sum(CASE WHEN step_length = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bounces,
       CAST(sum(CASE WHEN step_length = 1 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS bounce_ppm
FROM sess_agg GROUP BY 1
""",
)
def q_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions that consist of a single event
    — THE engagement KPI the reference's session-stats job feeds dashboards
    with (its step-length histogram has the 1-3 bin; this isolates the
    actionable single-step share per day, in ppm integer arithmetic).

    Scale shape: rides the session aggregate's existing single exchange;
    the daily rollup groups the |sessions|-sized frame by date — a second
    small hash aggregate, nothing rescans events.
    """
    agg = _session_agg(spark, sf_dir)
    bounce = F.sum(F.when(F.col("step_length") == 1, 1).otherwise(0))
    return (
        agg.groupBy(F.col("start_time").cast("date").alias("date_key"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounce.cast("long").alias("n_bounces"),
        )
        .select(
            "date_key",
            "n_sessions",
            "n_bounces",
            F.expr("n_bounces * 1000000 div n_sessions").alias("bounce_ppm"),
        )
    )

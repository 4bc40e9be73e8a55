"""Statistical estimation as distributed aggregates — the round-8 family.

Six operator classes the engine was missing, each expressed the way a
100 TB engine must express statistics: REDUCE FIRST (to a histogram, a
sufficient-statistic tuple, or a calendar-bounded series), then run the
sequential/ordered part of the estimator over the reduced table, never
over the fact table. That is the same seam `trend_fit_events` (closed-form
OLS), `holt_forecast_revenue` (recurrence over months), and
`forecast_backtest_mase` (backtest over days) established; this module
widens it to:

- survival analysis (Nelson-Aalen cumulative hazard with right-censoring),
- seasonal decomposition (STL-lite additive trend/seasonal/residual),
- conformal prediction intervals (split-conformal on the Holt forecaster),
- multi-factor closed-form OLS (two regressors via normal equations),
- robust aggregation (exact winsorized/trimmed means from a value
  histogram, no per-row sort),
- bootstrap uncertainty (deterministic Poisson resampling, the
  map-side-combinable form of Chamandy et al.'s "Poisson bootstrap").

Determinism policy (house rules): every estimator is integer-exact where
it can be (cents / ppm / milli scaling with explicit floor or
truncation-division semantics matched across engines), and where a double
is unavoidable (OLS solve, the 0.9-quantile index) both engines compute
the SAME IEEE value from the SAME operands in the SAME order. All
pseudo-randomness derives from md5 (portable across engines), per the
dedup/CUPED precedent.

Reference parity note: the reference system (sotowang/log-analysis-system)
has no statistics layer at all — its closest op is the session-aggregate
family (UserVisitSessionAnalyzeSpark.java) — so this module is pure
extension surface, graded as first-class pipeline operators.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import read_events, read_table, register_views
from . import query

# Truncation-division (toward zero) on a possibly-negative numerator,
# spelled per engine: Spark's `div` already truncates; DuckDB's `//`
# floors, so the oracle side emulates truncation with a sign split
# (the CUPED precedent — see queries/behavior.py).
_SS = "CASE WHEN {a} >= 0 THEN ({a}) // ({b}) ELSE -((-({a})) // ({b})) END"

_DAY_US = 86_400_000_000

# ------------------------------------------------------------------
# survival_churn_hazard — Nelson-Aalen over inter-order gaps
# ------------------------------------------------------------------

_SURVIVAL_ORACLE = f"""
WITH o AS (
    SELECT o_custkey,
           epoch_us(o_orderdate) // {_DAY_US} AS day,
           lead(epoch_us(o_orderdate) // {_DAY_US}) OVER (
               PARTITION BY o_custkey
               ORDER BY epoch_us(o_orderdate) // {_DAY_US}, o_orderkey
           ) AS nxt
    FROM orders
),
durs AS (
    SELECT coalesce(nxt, (SELECT max(epoch_us(o_orderdate) // {_DAY_US})
                          FROM orders)) - day AS t_days,
           CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
    FROM o
),
hist AS (
    SELECT t_days,
           CAST(sum(event) AS BIGINT) AS d_events,
           CAST(sum(1 - event) AS BIGINT) AS c_censored
    FROM durs GROUP BY 1
),
r AS (
    SELECT t_days, d_events, c_censored,
           CAST(sum(d_events + c_censored) OVER (
               ORDER BY t_days DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_risk
    FROM hist
)
SELECT t_days, n_risk, d_events, c_censored,
       CAST(d_events * 1000000 // n_risk AS BIGINT) AS hazard_ppm,
       CAST(sum(d_events * 1000000 // n_risk) OVER (
           ORDER BY t_days
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumhaz_ppm
FROM r
"""


@query("survival_churn_hazard", oracle=_SURVIVAL_ORACLE)
def q_survival_churn_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimate of customer churn with
    right-censoring — the survival-analysis op class (duration modeling)
    no other row exercises. Each consecutive-order gap is an observed
    re-purchase event at duration t; the gap from a customer's LAST order
    to the dataset horizon is a censored duration (we only know the
    customer survived at least that long without churning). At each
    distinct duration: hazard_ppm = d_t * 1e6 / n_at_risk(t) with
    n_at_risk(t) = #durations >= t, and cumhaz is the running sum
    (integer ppm per term, so both engines agree bit-for-bit; the
    Kaplan-Meier product form would force a float product chain).

    Scale shape: one shuffle on o_custkey for the lead() window, then the
    estimator runs entirely over the DURATION HISTOGRAM — rows = distinct
    gap lengths in days (calendar-bounded, a few thousand at any corpus
    size), which is why the two order-only windows over it are allowlisted
    bounded-frame windows, like key_skew_profile's counts-of-counts pass.
    The horizon (global max order day) is a 1-row broadcast."""
    orders = read_table(spark, sf_dir, "orders")
    day = F.expr(
        f"unix_micros(cast(o_orderdate as timestamp_ltz)) div {_DAY_US}"
    )
    o = orders.select(
        "o_custkey", "o_orderkey", day.alias("day")
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    gmax = o.agg(F.max("day").alias("gmax"))
    durs = (
        o.withColumn("nxt", F.lead("day").over(w))
        .crossJoin(F.broadcast(gmax))
        .select(
            (F.coalesce("nxt", "gmax") - F.col("day")).alias("t_days"),
            F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    hist = durs.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.sum(1 - F.col("event")).cast("long").alias("c_censored"),
    )
    w_desc = Window.orderBy(F.desc("t_days")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_asc = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = hist.withColumn(
        "n_risk",
        F.sum(F.col("d_events") + F.col("c_censored")).over(w_desc).cast("long"),
    ).withColumn(
        "hazard_ppm", F.expr("d_events * 1000000 div n_risk").cast("long")
    )
    return r.select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        "hazard_ppm",
        F.sum("hazard_ppm").over(w_asc).cast("long").alias("cumhaz_ppm"),
    )


# ------------------------------------------------------------------
# seasonal_decompose_daily — STL-lite additive decomposition
# ------------------------------------------------------------------


def _seasonal_sql(idiv, ssdiv, dayseq, dow) -> str:
    """Additive decomposition y = trend + seasonal + residual over the
    DAILY event-count series, parameterized on engine idioms exactly like
    `_mase_sql`: trend = centered 7-day moving average (milli-units,
    complete windows only), seasonal = per-ISO-weekday mean of the
    detrended series (sign-split truncation division — detrended values
    go negative), residual = what's left. The observed series is
    densified onto the min..max calendar with y = 0 (a day with no
    events is a true zero)."""
    return f"""
WITH observed AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM observed),
cal AS (SELECT {dayseq("dmin", "dmax")} AS day FROM bounds),
daily AS (
    SELECT c.day, CAST(coalesce(o.y, 0) AS BIGINT) AS y
    FROM cal c LEFT JOIN observed o ON o.day = c.day
),
tr AS (
    SELECT day, y,
           CASE WHEN count(*) OVER w7 = 7
                THEN {idiv("sum(y) OVER w7 * 1000", "7")}
                ELSE NULL END AS trend_milli
    FROM daily
    WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
    SELECT day, y, trend_milli,
           y * 1000 - trend_milli AS detr_milli,
           {dow("day")} AS dow
    FROM tr
),
seas AS (
    SELECT dow, {ssdiv("sum(detr_milli)", "count(*)")} AS seasonal_milli
    FROM det WHERE detr_milli IS NOT NULL GROUP BY dow
)
SELECT d.day, d.y, CAST(d.trend_milli AS BIGINT) AS trend_milli,
       CAST(s.seasonal_milli AS BIGINT) AS seasonal_milli,
       CAST(d.detr_milli - s.seasonal_milli AS BIGINT) AS resid_milli
FROM det d JOIN seas s ON s.dow = d.dow
"""


_SEASONAL_SPARK_SQL = _seasonal_sql(
    lambda a, b: f"(({a}) div ({b}))",
    lambda a, b: _SS.replace("//", "div").format(a=a, b=b),
    lambda lo, hi: f"explode(sequence({lo}, {hi}))",
    lambda c: f"CAST(weekday({c}) + 1 AS BIGINT)",
)
_SEASONAL_DUCK_SQL = _seasonal_sql(
    lambda a, b: f"(({a}) // ({b}))",
    lambda a, b: _SS.format(a=a, b=b),
    lambda lo, hi: (
        f"CAST(unnest(generate_series({lo}, {hi}, INTERVAL 1 DAY)) AS DATE)"
    ),
    lambda c: f"CAST(isodow({c}) AS BIGINT)",
)


@query("seasonal_decompose_daily", oracle=_SEASONAL_DUCK_SQL)
def q_seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive seasonal decomposition of the daily event-count
    series: trend (centered 7-day moving average), seasonal (per-weekday
    mean of the detrended series), residual — the decomposition op class
    that turns `dow_seasonality`'s static index into an actual series
    model, and the input an anomaly detector thresholds on (residual
    spikes survive trend and weekday effects; `hourly_anomalies` uses raw
    z-scores). All milli-unit integers; the per-weekday mean uses
    sign-split truncation division so Spark `div` and DuckDB `//` agree
    on negative detrended sums.

    Scale shape: the fact table collapses to the per-DAY calendar series
    in one hash-agg; every window after that is over O(days) rows
    (calendar-bounded — the MASE/CUSUM allowlist argument), and the
    7-row seasonal table joins back via broadcast."""
    register_views(spark, sf_dir)
    return spark.sql(_SEASONAL_SPARK_SQL)


# ------------------------------------------------------------------
# conformal_forecast_interval — split-conformal on the Holt forecaster
# ------------------------------------------------------------------

# ONE SQL text executed verbatim by BOTH engines (the holt/trade_reach
# contract). The first three CTEs are the Holt recurrence from
# temporal.HOLT_SQL (kept textually in sync; the composition is pinned by
# tests comparing the pred CTE against holt_forecast_revenue's output).
_CONFORMAL_SQL = """
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
),
pred AS (
    SELECT t, mon, y, lag(l + b) OVER (ORDER BY t) AS yhat FROM holt
),
ncal AS (SELECT CAST(floor(count(*) * 0.6) AS BIGINT) AS n_cal FROM pred),
resid AS (
    SELECT abs(y - yhat) AS r FROM pred
    WHERE yhat IS NOT NULL AND t <= (SELECT n_cal FROM ncal)
),
qsel AS (
    SELECT r AS q_c FROM (
        SELECT r, row_number() OVER (ORDER BY r) AS rk,
               count(*) OVER () AS nr
        FROM resid
    ) s
    WHERE rk = least(nr, CAST(ceil(0.9 * (nr + 1)) AS BIGINT))
)
SELECT mon, y AS revenue_c, yhat AS forecast_c,
       yhat - (SELECT q_c FROM qsel) AS lo_c,
       yhat + (SELECT q_c FROM qsel) AS hi_c,
       CAST(CASE WHEN y >= yhat - (SELECT q_c FROM qsel)
                  AND y <= yhat + (SELECT q_c FROM qsel)
            THEN 1 ELSE 0 END AS BIGINT) AS covered
FROM pred
WHERE t > (SELECT n_cal FROM ncal) AND yhat IS NOT NULL
"""


# Served by Spark as ONE window job over the 80-row series; n_cal and
# q_c are integer literals computed on the driver from the same collected
# month table (identical semantics to the oracle's ncal/qsel CTEs).
_CONFORMAL_TAIL_SQL = """
SELECT mon, y AS revenue_c, yhat AS forecast_c,
       yhat - {q_c} AS lo_c,
       yhat + {q_c} AS hi_c,
       CAST(CASE WHEN y >= yhat - {q_c} AND y <= yhat + {q_c}
            THEN 1 ELSE 0 END AS BIGINT) AS covered
FROM (
    SELECT t, mon, y, lag(l + b) OVER (ORDER BY t) AS yhat
    FROM conformal_holt
) pred
WHERE t > {n_cal} AND yhat IS NOT NULL
"""


@query("conformal_forecast_interval", oracle=_CONFORMAL_SQL)
def q_conformal_forecast_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction intervals around the Holt one-step
    forecast — the uncertainty-quantification op class the forecasting
    family (`holt_forecast_revenue` point forecasts,
    `forecast_backtest_mase` point-error backtest) was missing. The first
    60% of months are the calibration split; q = the ceil(0.9*(n+1))-th
    smallest absolute residual there (the finite-sample-valid conformal
    quantile, an exact order statistic — no distributional assumption);
    every later month gets [yhat - q, yhat + q] and a 0/1 coverage flag.
    By the split-conformal exchangeability guarantee the expected coverage
    is >= 90% regardless of the forecaster's quality.

    Integer cents end-to-end (residuals, q, bounds); the one double is
    the quantile INDEX ceil(0.9*(n+1)), identical IEEE arithmetic on both
    engines. Scale shape: orders reduce to months in ONE hash-agg; the
    Holt recurrence, calibration split, and conformal quantile then run
    ON THE DRIVER over the collected month table — a CALENDAR-BOUNDED
    collect (O(months), the bpe/fixpoint-scalar precedent; months do not
    grow with corpus size), because the sequential recurrence is
    O(months) work no matter where it runs and a distributed recursive
    CTE pays one scheduling round-trip per month (measured at sf0.1:
    79 s as Spark's inlined-CTE recursion, 27 s with localCheckpoint
    barriers, ~2 s collected). Python // floors exactly like the SQL
    floor(x/2.0) for |x| < 2^53, the HOLT_SQL overflow bound; sorted()
    on exact ints is the qsel order statistic. The interval/coverage
    projection runs back in Spark as ONE window job over the
    re-parallelized series with q and n_cal as integer literals; the
    oracle is the single verbatim recursive-CTE text (DuckDB
    materializes CTEs natively)."""
    register_views(spark, sf_dir)
    months = sorted(
        spark.sql(
            "SELECT substr(CAST(o_orderdate AS STRING), 1, 7) AS mon, "
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " AS y FROM orders GROUP BY 1"
        ).collect(),
        key=lambda r: r["mon"],
    )
    holt_rows, level, trend = [], 0, 0
    for t, r in enumerate(months, start=1):
        y = int(r["y"])
        if t == 1:
            level, trend = y, 0
        else:
            new_level = (y + level + trend) // 2
            trend = (new_level - level + trend) // 2
            level = new_level
        holt_rows.append((t, r["mon"], y, level, trend))
    # floor(n * 0.6) in IEEE DOUBLE, exactly as both engines' ncal CTE
    # computes it (an exact n*6//10 would disagree whenever n*0.6 rounds
    # just below an integer, e.g. n = 5: IEEE 2.999... floors to 2)
    n_cal = math.floor(len(holt_rows) * 0.6)
    resid = sorted(
        abs(y - (pl + pb))
        for (_, _, y, _, _), (_, _, _, pl, pb) in zip(
            holt_rows[1:n_cal], holt_rows[: n_cal - 1]
        )
    )
    k = min(len(resid), math.ceil(0.9 * (len(resid) + 1)))
    q_c = resid[k - 1] if resid else 0
    spark.createDataFrame(
        holt_rows, "t BIGINT, mon STRING, y BIGINT, l BIGINT, b BIGINT"
    ).createOrReplaceTempView("conformal_holt")
    return spark.sql(_CONFORMAL_TAIL_SQL.format(q_c=q_c, n_cal=n_cal))


# ------------------------------------------------------------------
# grouped_ols_two_factor — closed-form 2-regressor OLS per group
# ------------------------------------------------------------------

_OLS_ORACLE = """
WITH pts AS (
    SELECT l_returnflag AS grp,
           CAST(round(l_quantity) AS BIGINT) AS x1,
           CAST(round(l_discount * 100) AS BIGINT) AS x2,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS y
    FROM lineitem
),
s AS (
    SELECT grp, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
           CAST(sum(x2 * x2) AS BIGINT) AS sx2x2,
           CAST(sum(x1 * x2) AS BIGINT) AS sx1x2,
           CAST(sum(x1 * y) AS BIGINT) AS sx1y,
           CAST(sum(x2 * y) AS BIGINT) AS sx2y
    FROM pts GROUP BY grp
)
SELECT grp, n,
       round((  (CAST(n AS DOUBLE) * CAST(sx2x2 AS DOUBLE)
                 - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sx1y AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE))
              - (CAST(n AS DOUBLE) * CAST(sx1x2 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sx2y AS DOUBLE)
                 - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sx1x1 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sx2x2 AS DOUBLE)
                 - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
              - (CAST(n AS DOUBLE) * CAST(sx1x2 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sx1x2 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE))), 6)
           AS beta_qty_c,
       round((  (CAST(n AS DOUBLE) * CAST(sx1x1 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sx2y AS DOUBLE)
                 - CAST(sx2 AS DOUBLE) * CAST(sy AS DOUBLE))
              - (CAST(n AS DOUBLE) * CAST(sx1x2 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sx1y AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE)))
             / ((CAST(n AS DOUBLE) * CAST(sx1x1 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sx2x2 AS DOUBLE)
                 - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
              - (CAST(n AS DOUBLE) * CAST(sx1x2 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(sx1x2 AS DOUBLE)
                 - CAST(sx1 AS DOUBLE) * CAST(sx2 AS DOUBLE))), 6)
           AS beta_disc_c
FROM s
"""


@query("grouped_ols_two_factor", oracle=_OLS_ORACLE)
def q_grouped_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group TWO-regressor least squares (extended price on quantity
    and discount) solved in closed form from the 2x2 normal equations —
    the multivariate step past `trend_fit_events`' single-regressor slope,
    and the proof the sufficient-statistics seam generalizes: ANY
    fixed-dimension linear model is one map-side-combinable aggregate
    (nine exact bigint sums per group) plus an O(1) per-group solve at
    the output edge. No parameter server, no iteration, no shuffle beyond
    the one hash-agg — the design that holds at 100 TB.

    beta_qty_c / beta_disc_c are Cramer's-rule ratios of centered
    cross-moments, evaluated in double with the SAME operand values and
    operation order on both engines (the trend_fit overflow argument:
    the n*S products exceed int64, the raw sums cannot)."""
    li = read_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    s = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    )
    n, sx1, sx2, sy, sx1x1, sx2x2, sx1x2, sx1y, sx2y = (
        F.col(c).cast("double")
        for c in (
            "n", "sx1", "sx2", "sy", "sx1x1", "sx2x2", "sx1x2", "sx1y", "sx2y"
        )
    )
    m11 = n * sx1x1 - sx1 * sx1
    m22 = n * sx2x2 - sx2 * sx2
    m12 = n * sx1x2 - sx1 * sx2
    v1 = n * sx1y - sx1 * sy
    v2 = n * sx2y - sx2 * sy
    det = m11 * m22 - m12 * m12
    return s.select(
        "grp",
        "n",
        F.round((m22 * v1 - m12 * v2) / det, 6).alias("beta_qty_c"),
        F.round((m11 * v2 - m12 * v1) / det, 6).alias("beta_disc_c"),
    )


# ------------------------------------------------------------------
# winsorized_price_stats — exact robust means from a value histogram
# ------------------------------------------------------------------

_WINSOR_ORACLE = """
WITH hist AS (
    SELECT l_returnflag AS grp,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
           CAST(count(*) AS BIGINT) AS c
    FROM lineitem GROUP BY 1, 2
),
cum AS (
    SELECT grp, v, c,
           CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cm,
           CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
    FROM hist
),
k AS (
    SELECT grp, v, c, cm, n,
           (n - 1) * 5 // 100 + 1 AS k_lo,
           (n - 1) * 95 // 100 + 1 AS k_hi
    FROM cum
),
b AS (
    SELECT grp, v, c, cm, n, k_lo, k_hi,
           min(CASE WHEN cm >= k_lo THEN v END) OVER (PARTITION BY grp)
               AS p05_c,
           min(CASE WHEN cm >= k_hi THEN v END) OVER (PARTITION BY grp)
               AS p95_c
    FROM k
)
SELECT grp, max(n) AS n, max(p05_c) AS p05_c, max(p95_c) AS p95_c,
       CAST(sum(least(greatest(v, p05_c), p95_c) * c) // max(n) AS BIGINT)
           AS winsor_mean_c,
       CAST(sum(v * greatest(0, least(cm, k_hi)
                                - greatest(cm - c + 1, k_lo) + 1))
            // (max(k_hi) - max(k_lo) + 1) AS BIGINT) AS trim_mean_c
FROM b GROUP BY grp
"""


@query("winsorized_price_stats", oracle=_WINSOR_ORACLE)
def q_winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact winsorized and trimmed means per group (5th/95th percentile
    bounds) — the robust-estimation op class (`mad_outlier_days` flags
    outliers; this is the estimator that survives them). The percentile
    bounds are exact rank-based order statistics computed WITHOUT a
    per-row sort: prices collapse to a per-(group, cent-value) histogram
    first, the cumulative count runs over that bounded histogram, and the
    k-th order statistic is the first value whose cumulative count
    reaches k. The trimmed sum handles boundary ties exactly: a value
    occupying ranks [cm-c+1, cm] contributes min(cm,k_hi) -
    max(cm-c+1,k_lo) + 1 copies (clamped at 0) — so ties at the cut
    points are partially included by rank, matching a sorted-array trim.

    All integers (cents, counts, ranks; prices positive so plain
    truncation division matches DuckDB floor division). Scale shape: one
    hash-agg to the histogram, windows partitioned BY GROUP over bounded
    cent-value domains, one closing agg — never a global sort."""
    li = read_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = Window.partitionBy("grp").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_grp = Window.partitionBy("grp")
    cum = hist.withColumn("cm", F.sum("c").over(w_cum).cast("long")).withColumn(
        "n", F.sum("c").over(w_grp).cast("long")
    )
    k = cum.withColumn(
        "k_lo", F.expr("(n - 1) * 5 div 100 + 1")
    ).withColumn("k_hi", F.expr("(n - 1) * 95 div 100 + 1"))
    b = k.withColumn(
        "p05_c",
        F.min(F.when(F.col("cm") >= F.col("k_lo"), F.col("v"))).over(w_grp),
    ).withColumn(
        "p95_c",
        F.min(F.when(F.col("cm") >= F.col("k_hi"), F.col("v"))).over(w_grp),
    )
    inc = F.greatest(
        F.lit(0),
        F.least(F.col("cm"), F.col("k_hi"))
        - F.greatest(F.col("cm") - F.col("c") + 1, F.col("k_lo"))
        + 1,
    )
    return b.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max("p05_c").alias("p05_c"),
        F.max("p95_c").alias("p95_c"),
        F.expr(
            "CAST(sum(least(greatest(v, p05_c), p95_c) * c) div max(n)"
            " AS BIGINT)"
        ).alias("winsor_mean_c"),
        F.sum(F.col("v") * inc).cast("long").alias("_ts"),
        F.max("k_hi").alias("_kh"),
        F.max("k_lo").alias("_kl"),
    ).select(
        "grp",
        "n",
        "p05_c",
        "p95_c",
        "winsor_mean_c",
        F.expr("CAST(_ts div (_kh - _kl + 1) AS BIGINT)").alias(
            "trim_mean_c"
        ),
    )


# ------------------------------------------------------------------
# bootstrap_revenue_ci — deterministic Poisson bootstrap
# ------------------------------------------------------------------

N_BOOT = 40  # replicas; CI ranks below assume this value

# Poisson(1) CDF cutoffs on the md5-derived 60-bit uniform scale:
# floor(P(X <= k) * 2^60) for k = 0..5; weights above 6 are impossible
# at 60-bit resolution for practical purposes and clamp to 6.
_POIS_CUT = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
)


def _pois_case(u: str) -> str:
    """CASE expression mapping a 60-bit uniform to a Poisson(1) weight
    (shared SQL text — engine-neutral)."""
    whens = " ".join(
        f"WHEN {u} < {cut} THEN {k}" for k, cut in enumerate(_POIS_CUT)
    )
    return f"CASE {whens} ELSE 6 END"


_BOOT_ORACLE = f"""
WITH o AS (
    SELECT o_orderkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
),
reps AS (
    SELECT r.rep, o.cents,
           CAST(('0x' || substr(md5(CAST(o.o_orderkey * 100 + r.rep
                                          AS VARCHAR)), 1, 15)) AS BIGINT)
               AS u60
    FROM o CROSS JOIN (SELECT unnest(generate_series(0, {N_BOOT - 1}))
                       AS rep) r
),
tot AS (
    SELECT rep,
           CAST(sum(({_pois_case("u60")}) * cents) AS BIGINT) AS t
    FROM reps GROUP BY rep
)
SELECT CAST(count(*) AS BIGINT) AS b,
       (SELECT CAST(sum(cents) AS BIGINT) FROM o) AS point_total_c,
       CAST(sum(t) // count(*) AS BIGINT) AS boot_mean_c,
       list_sort(list(t))[2] AS boot_lo_c,
       list_sort(list(t))[{(N_BOOT - 1) * 95 // 100 + 1}] AS boot_hi_c
FROM tot
"""


@query("bootstrap_revenue_ci", oracle=_BOOT_ORACLE)
def q_bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for total revenue via the POISSON
    bootstrap (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012) — the resampling-inference op class: classical
    bootstrap resampling is impossible at 100 TB (each replica would be a
    full shuffle of the corpus), but Poisson(1) per-row inclusion weights
    are independent across rows, so ALL {N_BOOT} replicas are computed in
    ONE pass as a map-side-combinable aggregate: each row contributes
    weight_r * cents to replica r, and the shuffle carries only
    {N_BOOT} partial sums per task, never resampled data.

    Weights are deterministic: u = low 60 bits of md5(orderkey*100 + rep)
    (portable across engines, the dedup/CUPED precedent) mapped through
    the exact integer Poisson(1) CDF cutoffs — both engines produce
    bit-identical replica totals. The CI is rank-based over the
    {N_BOOT}-row replica-total list (2nd / 38th order statistics ~ a 90%
    interval), sorted INSIDE an aggregate (array_sort over collect_list)
    so no window touches the data. Reference: the reference system has
    no uncertainty machinery at all."""
    orders = read_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    point = o.agg(F.sum("cents").cast("long").alias("point_total_c"))
    reps = (
        o.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(N_BOOT - 1))))
        .withColumn(
            "u60",
            F.conv(
                F.substring(
                    F.md5(
                        (F.col("o_orderkey") * 100 + F.col("rep"))
                        .cast("string")
                        .cast("binary")
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )
        .withColumn("wt", F.expr(_pois_case("u60")))
        .groupBy("rep")
        .agg(F.sum(F.col("wt") * F.col("cents")).cast("long").alias("t"))
    )
    k_hi = (N_BOOT - 1) * 95 // 100 + 1
    stats = reps.agg(
        F.count(F.lit(1)).cast("long").alias("b"),
        F.expr("CAST(sum(t) div count(*) AS BIGINT)").alias("boot_mean_c"),
        F.try_element_at(F.array_sort(F.collect_list("t")), F.lit(2)).alias(
            "boot_lo_c"
        ),
        F.try_element_at(
            F.array_sort(F.collect_list("t")), F.lit(k_hi)
        ).alias("boot_hi_c"),
    )
    return stats.crossJoin(F.broadcast(point)).select(
        "b", "point_total_c", "boot_mean_c", "boot_lo_c", "boot_hi_c"
    )


# ------------------------------------------------------------------
# sprt_conversion_monitor — Wald sequential probability ratio test
# ------------------------------------------------------------------

# Integer SPRT constants, precomputed as PYTHON literals so neither
# engine ever evaluates ln() at query time (zero cross-engine drift):
# H0: p = 0.18, H1: p = 0.22 daily purchase-conversion rate;
# alpha = beta = 0.05 (so |threshold| = ln((1-beta)/alpha) = ln 19).
SPRT_L1 = 200_670  # floor(ln(0.22/0.18) * 1e6): per-success LLR increment
SPRT_L0 = -50_011  # floor(ln(0.78/0.82) * 1e6): per-failure LLR increment
SPRT_A = 2_944_438  # floor(ln(19) * 1e6): accept-H1 / accept-H0 threshold

_SPRT_ORACLE = f"""
WITH d AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1
),
llr AS (
    SELECT day, s, n,
           s * {SPRT_L1} + (n - s) * {SPRT_L0} AS llr_micro
    FROM d
),
c AS (
    SELECT day, s, n, llr_micro,
           CAST(sum(llr_micro) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_llr_micro
    FROM llr
)
SELECT day, s, n, llr_micro, cum_llr_micro,
       CASE WHEN cum_llr_micro >= {SPRT_A} THEN 'accept_h1'
            WHEN cum_llr_micro <= -{SPRT_A} THEN 'accept_h0'
            ELSE 'continue' END AS verdict
FROM c
"""


@query("sprt_conversion_monitor", oracle=_SPRT_ORACLE)
def q_sprt_conversion_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test over the daily purchase
    conversion rate — the SEQUENTIAL hypothesis-testing op class (the
    fixed-horizon tests `chi2_contingency` / `cuped_adjusted_lift` read
    once at the end; SPRT reads after every day and stops early with
    guaranteed error rates alpha = beta = 0.05). Each day contributes
    s*ln(p1/p0) + (n-s)*ln((1-p1)/(1-p0)) to the running log-likelihood
    ratio; crossing +/- ln(19) decides.

    The per-unit LLR increments are integer micro-nat LITERALS precomputed
    offline, so the whole statistic is exact bigint arithmetic — neither
    engine evaluates a logarithm. Scale shape: events collapse to the
    per-DAY (successes, trials) table in one hash-agg; the prefix sum
    runs over O(days) rows (calendar-bounded allowlist). The
    `sprt_daily_counts` / `sprt_score` split is shared with the
    streaming monitor (streaming/drift.py) so batch and served verdicts
    can never diverge — the equivalence is test-pinned."""
    ev = read_events(spark, sf_dir)
    return sprt_score(sprt_daily_counts(ev))


def sprt_daily_counts(ev: DataFrame) -> DataFrame:
    """Per-DAY (successes, trials) — the SPRT's mergeable partial: both
    columns sum across micro-batches covering the same day."""
    return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


def sprt_score(d: DataFrame) -> DataFrame:
    """Score a (day, s, n) table: per-day and cumulative LLR in exact
    integer micro-nats plus the Wald accept/continue verdict. Shared by
    the batch query and the streaming monitor's serve path."""
    llr = d.withColumn(
        "llr_micro",
        F.col("s") * SPRT_L1 + (F.col("n") - F.col("s")) * SPRT_L0,
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = llr.withColumn(
        "cum_llr_micro", F.sum("llr_micro").over(w).cast("long")
    )
    return c.select(
        "day",
        "s",
        "n",
        "llr_micro",
        "cum_llr_micro",
        F.when(F.col("cum_llr_micro") >= SPRT_A, "accept_h1")
        .when(F.col("cum_llr_micro") <= -SPRT_A, "accept_h0")
        .otherwise("continue")
        .alias("verdict"),
    )


# ------------------------------------------------------------------
# diff_in_diff_lift — 2x2 difference-in-differences
# ------------------------------------------------------------------

DID_SPLIT_DAY = 19_738  # 2024-01-16, the CUPED pre/post boundary

_DID_ORACLE = f"""
WITH cells AS (
    SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 2 AS arm,
           CASE WHEN epoch_us(ts) // {_DAY_US} >= {DID_SPLIT_DAY}
                THEN 1 ELSE 0 END AS post,
           CAST(floor(value * 100) AS BIGINT) AS cents
    FROM events
),
a AS (
    SELECT
        CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
        CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN cents ELSE 0 END) AS BIGINT) AS s00,
        CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN cents ELSE 0 END) AS BIGINT) AS s01,
        CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN cents ELSE 0 END) AS BIGINT) AS s10,
        CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN cents ELSE 0 END) AS BIGINT) AS s11
    FROM cells
)
SELECT n00, n01, n10, n11,
       s00 * 1000 // n00 AS m00_milli,
       s01 * 1000 // n01 AS m01_milli,
       s10 * 1000 // n10 AS m10_milli,
       s11 * 1000 // n11 AS m11_milli,
       (s11 * 1000 // n11 - s10 * 1000 // n10)
       - (s01 * 1000 // n01 - s00 * 1000 // n00) AS did_millicents
FROM a
"""


@query("diff_in_diff_lift", oracle=_DID_ORACLE)
def q_diff_in_diff_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences treatment-effect estimate over the
    md5-split arms and the pre/post boundary — the causal PANEL
    estimation class (`cuped_adjusted_lift` reduces variance of a
    post-only contrast; DiD instead removes time-invariant arm bias by
    differencing each arm against its own pre-period). The 2x2 cell
    means are milli-cent floor divisions of exact bigint sums; the DiD
    contrast is exact integer subtraction of those — bit-identical
    across engines (all sums non-negative, so truncation == floor).

    Scale shape: ONE conditional-aggregate pass over the fact scan
    produces all eight sufficient statistics (no pivot, no second scan,
    no window); the estimator itself is O(1) arithmetic on a 1-row
    table."""
    ev = read_events(spark, sf_dir)
    arm = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    post = F.when(
        F.expr(f"unix_micros(cast(ts as timestamp_ltz)) div {_DAY_US}")
        >= DID_SPLIT_DAY,
        1,
    ).otherwise(0)
    cents = F.floor(F.col("value") * 100).cast("long")
    cells = ev.select(
        arm.alias("arm"), post.alias("post"), cents.alias("cents")
    )

    def _n(a: int, p: int):
        return F.sum(
            F.when((F.col("arm") == a) & (F.col("post") == p), 1).otherwise(0)
        ).cast("long")

    def _s(a: int, p: int):
        return F.sum(
            F.when(
                (F.col("arm") == a) & (F.col("post") == p), F.col("cents")
            ).otherwise(0)
        ).cast("long")

    a = cells.agg(
        _n(0, 0).alias("n00"),
        _n(0, 1).alias("n01"),
        _n(1, 0).alias("n10"),
        _n(1, 1).alias("n11"),
        _s(0, 0).alias("s00"),
        _s(0, 1).alias("s01"),
        _s(1, 0).alias("s10"),
        _s(1, 1).alias("s11"),
    )
    m = {
        f"m{a_}{p}": F.expr(f"s{a_}{p} * 1000 div n{a_}{p}")
        for a_ in (0, 1)
        for p in (0, 1)
    }
    return a.select(
        "n00",
        "n01",
        "n10",
        "n11",
        m["m00"].alias("m00_milli"),
        m["m01"].alias("m01_milli"),
        m["m10"].alias("m10_milli"),
        m["m11"].alias("m11_milli"),
        ((m["m11"] - m["m10"]) - (m["m01"] - m["m00"])).alias(
            "did_millicents"
        ),
    )


# ------------------------------------------------------------------
# zipf_law_fit — power-law exponent over the term-rank curve
# ------------------------------------------------------------------

ZIPF_TOP_K = 512  # ranks fitted; cut BEFORE ranking (TakeOrdered heap)

_ZIPF_ORACLE = f"""
WITH tf AS (
    SELECT w AS term, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
    GROUP BY 1
),
cut AS (
    SELECT term, freq FROM tf ORDER BY freq DESC, term LIMIT {ZIPF_TOP_K}
),
pts AS (
    SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY freq DESC, term)
                              AS DOUBLE)) * 1000000) AS BIGINT) AS x,
           CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
    FROM cut
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM pts
)
SELECT n AS n_terms,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
           AS zipf_exponent
FROM s
"""


@query("zipf_law_fit", oracle=_ZIPF_ORACLE)
def q_zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law exponent of the corpus term-frequency curve:
    log-log OLS of ln(freq) on ln(rank) over the top-{K} terms — the
    power-law-fitting op class, and the corpus-health diagnostic a
    curation pipeline watches (natural text sits near -1; template spam
    flattens the head, boilerplate steepens it). Composition: the
    tf explode/agg kernel (`tfidf_top_terms`), a TakeOrdered top-K cut
    BEFORE any ranking (the plan-gated heap — the full vocabulary is
    never globally sorted), rank via a window over the already-cut
    {K}-row table (bm25_rank's allowlist argument), then the
    `trend_fit_events` closed-form OLS on micro-nat integer points
    (floor(ln * 1e6) — the established cross-engine log idiom)."""
    docs = read_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    cut = tf.orderBy(F.desc("freq"), "term").limit(ZIPF_TOP_K)
    w = Window.orderBy(F.desc("freq"), "term")
    pts = cut.select(
        F.floor(F.log(F.row_number().over(w).cast("double")) * 1000000)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("freq").cast("double")) * 1000000)
        .cast("long")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d, sxy_d, sx_d, sy_d, sxx_d = (
        F.col(c).cast("double") for c in ("n", "sxy", "sx", "sy", "sxx")
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(
            (n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d), 9
        ).alias("zipf_exponent"),
    )


q_zipf_law_fit.__doc__ = q_zipf_law_fit.__doc__.format(K=ZIPF_TOP_K)


# ------------------------------------------------------------------
# xmr_control_chart — individuals/moving-range SPC chart
# ------------------------------------------------------------------

_XMR_ORACLE = """
WITH observed AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
bounds AS (SELECT min(day) AS dmin, max(day) AS dmax FROM observed),
cal AS (SELECT CAST(unnest(generate_series(dmin, dmax, INTERVAL 1 DAY))
               AS DATE) AS day FROM bounds),
daily AS (
    SELECT c.day, CAST(coalesce(o.y, 0) AS BIGINT) AS y
    FROM cal c LEFT JOIN observed o ON o.day = c.day
),
mr AS (
    SELECT day, y,
           abs(y - lag(y) OVER (ORDER BY day)) AS mr
    FROM daily
),
lim AS (
    SELECT CAST(sum(y) * 1000 // count(*) AS BIGINT) AS ybar_milli,
           CAST(sum(mr) * 1000 // (count(*) - 1) AS BIGINT) AS mrbar_milli
    FROM mr
)
SELECT day, y, mr,
       (SELECT ybar_milli - 266 * mrbar_milli // 100 FROM lim) AS lcl_milli,
       (SELECT ybar_milli + 266 * mrbar_milli // 100 FROM lim) AS ucl_milli,
       CAST(CASE WHEN y * 1000
                      < (SELECT ybar_milli - 266 * mrbar_milli // 100
                         FROM lim)
                   OR y * 1000
                      > (SELECT ybar_milli + 266 * mrbar_milli // 100
                         FROM lim)
            THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
FROM mr
"""


@query("xmr_control_chart", oracle=_XMR_ORACLE)
def q_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals/moving-range (XmR) control chart over the
    daily event-count series — the statistical-process-control op class:
    control limits ybar +/- 2.66 * mean(moving range) derive spread from
    CONSECUTIVE-day differences, so a slow trend inflates neither limit
    (unlike the global-sd z-scores in `hourly_anomalies`, which a trend
    widens until real shifts hide). 2.66 = 3/d2(2) is the standard XmR
    constant, applied as the exact integer 266/100; all milli-unit
    bigints (counts non-negative, truncation == floor).

    Scale shape: one hash-agg to the zero-filled dense calendar
    (the MASE densify argument), one lag window over O(days) rows
    (calendar-bounded allowlist), limits as 1-row scalar subqueries."""
    ev = read_events(spark, sf_dir)
    observed = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    bounds = observed.agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    cal = bounds.select(
        F.explode(F.sequence("dmin", "dmax")).alias("day")
    )
    daily = cal.join(observed, "day", "left").select(
        "day", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )
    w = Window.orderBy("day")
    mr = daily.withColumn(
        "mr", F.abs(F.col("y") - F.lag("y").over(w)).cast("long")
    )
    lim = mr.agg(
        F.expr("CAST(sum(y) * 1000 div count(*) AS BIGINT)").alias(
            "ybar_milli"
        ),
        F.expr("CAST(sum(mr) * 1000 div (count(*) - 1) AS BIGINT)").alias(
            "mrbar_milli"
        ),
    )
    out = mr.crossJoin(F.broadcast(lim)).select(
        "day",
        "y",
        "mr",
        F.expr("ybar_milli - 266 * mrbar_milli div 100").alias("lcl_milli"),
        F.expr("ybar_milli + 266 * mrbar_milli div 100").alias("ucl_milli"),
    )
    return out.withColumn(
        "out_of_control",
        F.when(
            (F.col("y") * 1000 < F.col("lcl_milli"))
            | (F.col("y") * 1000 > F.col("ucl_milli")),
            1,
        )
        .otherwise(0)
        .cast("long"),
    )


# ------------------------------------------- empirical-Bayes rate shrinkage

EB_MIN_TOKENS = 40  # quality pass: at least this many whitespace tokens
EB_LEN_LO, EB_LEN_HI = 3, 8  # ... and mean token length in [lo, hi] chars

_EB_ORACLE = f"""
WITH feat AS (
    SELECT source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha
    FROM documents
),
per_src AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (
               WHERE n_tokens >= {EB_MIN_TOKENS}
                 AND n_alpha >= {EB_LEN_LO} * n_tokens
                 AND n_alpha <= {EB_LEN_HI} * n_tokens
           ) AS BIGINT) AS pass_n
    FROM feat GROUP BY 1
),
rates AS (
    SELECT source, n_docs, pass_n,
           pass_n * 1000000 // n_docs AS raw_ppm
    FROM per_src
),
mom AS (
    SELECT CAST(sum(raw_ppm) // count(*) AS BIGINT) AS m_ppm,
           CAST(count(*) AS BIGINT) AS nsrc
    FROM rates
),
varr AS (
    SELECT CAST(sum((r.raw_ppm - m.m_ppm) * (r.raw_ppm - m.m_ppm))
                // any_value(m.nsrc) AS BIGINT) AS v_pp2
    FROM rates r CROSS JOIN mom m
),
prior AS (
    SELECT m.m_ppm,
           CAST(greatest(
               CASE WHEN v.v_pp2 > 0
                    THEN m.m_ppm * (1000000 - m.m_ppm) // v.v_pp2 - 1
                    ELSE 0 END, 0) AS BIGINT) AS strength
    FROM mom m CROSS JOIN varr v
)
SELECT r.source, r.n_docs, r.pass_n, r.raw_ppm,
       CAST((r.pass_n * 1000000 + p.strength * p.m_ppm)
            // (r.n_docs + p.strength) AS BIGINT) AS shrunk_ppm,
       p.strength AS prior_strength
FROM rates r CROSS JOIN prior p
"""


@query("eb_shrunk_quality", oracle=_EB_ORACLE)
def q_eb_shrunk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-source quality pass rates (the
    beta-binomial method-of-moments estimator): fit a Beta prior to the
    observed per-source rates — prior mean = mean rate, prior strength
    s = m(1-m)/Var(rate) - 1 — then shrink each source's raw rate toward
    the corpus mean with weight s/(n+s). Small/new sources get pulled to
    the prior; big sources keep their evidence — the standard guard
    against over-trusting a 50-doc source's perfect pass rate when
    curating a 100 TB mixture (cf. `ctr_wilson_rank`, which bounds a
    single rate; this POOLS strength across sources).

    Determinism: rates, moments, strength, and the shrunk posterior mean
    all live in integer ppm with floor division at each step, mirrored
    exactly in the oracle — no IEEE summation anywhere. Scale shape: one
    documents scan reduces to a per-source (n, k) tuple; everything after
    runs on the O(sources) table with 1-row broadcast cross joins."""
    docs = read_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words).cast("long")
    n_alpha = F.length(F.regexp_replace("text", " ", "")).cast("long")
    ok = (
        (n_tokens >= EB_MIN_TOKENS)
        & (n_alpha >= EB_LEN_LO * n_tokens)
        & (n_alpha <= EB_LEN_HI * n_tokens)
    )
    rates = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("pass_n"),
        )
        .withColumn(
            # `div` = exact bigint division (non-negative numerator, so
            # trunc == floor == the oracle's `//`); the double path can
            # misround past 2^53 at corpus scale (round-8 advice item).
            "raw_ppm",
            F.expr(
                "pass_n * CAST(1000000 AS BIGINT) div n_docs"
            ).cast("long"),
        )
    )
    mom = rates.agg(
        F.expr("sum(raw_ppm) div count(*)").cast("long").alias("m_ppm"),
        F.count(F.lit(1)).cast("long").alias("nsrc"),
    )
    varr = (
        rates.join(F.broadcast(mom))
        .agg(
            F.expr(
                "sum((raw_ppm - m_ppm) * (raw_ppm - m_ppm))"
                " div first(nsrc)"
            )
            .cast("long")
            .alias("v_pp2")
        )
    )
    prior = (
        mom.join(F.broadcast(varr))
        .select(
            "m_ppm",
            # strength can reach m(1-m)/1 ~ 2.5e11 when the
            # inter-source variance is tiny; every product it enters
            # stays < 2^58, within exact bigint range for `div`.
            F.greatest(
                F.when(
                    F.col("v_pp2") > 0,
                    F.expr(
                        "m_ppm * (CAST(1000000 AS BIGINT) - m_ppm)"
                        " div v_pp2"
                    ).cast("long")
                    - 1,
                ).otherwise(F.lit(0).cast("long")),
                F.lit(0).cast("long"),
            ).alias("strength"),
        )
    )
    return rates.join(F.broadcast(prior)).select(
        "source",
        "n_docs",
        "pass_n",
        "raw_ppm",
        F.expr(
            "(pass_n * CAST(1000000 AS BIGINT) + strength * m_ppm)"
            " div (n_docs + strength)"
        )
        .cast("long")
        .alias("shrunk_ppm"),
        F.col("strength").alias("prior_strength"),
    )


# -------------------------- propensity-stratified treatment effect (ATT)

ATT_CUT = "2024-01-16 00:00:00"   # pre/post split (mid-month)
ATT_ERR_MIN = 7                    # treatment: >= this many pre errors
# fixed activity-stratum breaks over pre-period event counts — literal
# breaks, not global quantiles, so stratum assignment is a projection
# (no rank shuffle) and identical at any corpus size
ATT_BREAKS = (25, 30, 35, 40)

_ATT_STRATUM = (
    "CASE WHEN n_pre <= 25 THEN 0 WHEN n_pre <= 30 THEN 1 "
    "WHEN n_pre <= 35 THEN 2 WHEN n_pre <= 40 THEN 3 ELSE 4 END"
)

_ATT_ORACLE = f"""
WITH pre AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_pre,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               >= {ATT_ERR_MIN} AS treated
    FROM events WHERE ts < CAST('{ATT_CUT}' AS TIMESTAMP)
    GROUP BY 1
),
post AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM events WHERE ts >= CAST('{ATT_CUT}' AS TIMESTAMP)
    GROUP BY 1
),
units AS (
    SELECT {_ATT_STRATUM} AS stratum, p.treated,
           coalesce(po.y, 0) AS y
    FROM pre p LEFT JOIN post po ON po.user_id = p.user_id
),
cells AS (
    SELECT stratum,
           CAST(count(*) FILTER (WHERE treated) AS BIGINT) AS n_t,
           CAST(count(*) FILTER (WHERE NOT treated) AS BIGINT) AS n_c,
           CAST(sum(y) FILTER (WHERE treated) AS BIGINT) AS y_t,
           CAST(sum(y) FILTER (WHERE NOT treated) AS BIGINT) AS y_c
    FROM units GROUP BY 1
),
scored AS (
    SELECT stratum, n_t, n_c,
           coalesce(y_t, 0) AS y_t, coalesce(y_c, 0) AS y_c,
           n_t > 0 AND n_c > 0 AS on_support,
           CASE WHEN n_t > 0 AND n_c > 0
                THEN coalesce(y_t, 0) * 1000 // n_t
                     - coalesce(y_c, 0) * 1000 // n_c
                ELSE NULL END AS diff_milli
    FROM cells
),
att AS (
    -- sign-split truncation division: the weighted-diff numerator can
    -- be negative, where DuckDB // (floor) and Spark div (truncate)
    -- diverge by one — the CUPED idiom
    SELECT CAST(CASE WHEN num >= 0 THEN num // den
                     ELSE -((-num) // den) END AS BIGINT) AS att_milli
    FROM (
        SELECT coalesce(sum(n_t * diff_milli)
                            FILTER (WHERE on_support), 0) AS num,
               greatest(coalesce(sum(n_t)
                            FILTER (WHERE on_support), 0), 1) AS den
        FROM scored
    )
)
SELECT CAST(s.stratum AS INT) AS stratum, s.n_t AS n_treated,
       s.n_c AS n_control, s.y_t AS y_treated, s.y_c AS y_control,
       CAST(s.diff_milli AS BIGINT) AS diff_milli, s.on_support,
       a.att_milli
FROM scored s CROSS JOIN att a
"""


@query("propensity_stratified_att", oracle=_ATT_ORACLE)
def q_propensity_stratified_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified treatment-effect estimation on observational data
    (Cochran 1968 subclassification — the design-based complement of
    `diff_in_diff_lift`'s parallel-trends and `cuped_adjusted_lift`'s
    randomized-arm assumptions): treatment = heavy pre-period error
    exposure (>= {E} errors before {CUT}), outcome = post-period
    purchases, confounder = overall pre-period activity. Users are
    subclassified into FIXED activity strata (literal breaks — a
    projection, not a global-quantile rank shuffle, so assignment is
    identical at any corpus size); within each stratum treated and
    control means are compared, and ATT is the treated-weighted average
    of on-support strata (a stratum missing either group is excluded —
    the standard positivity rule, exercised by the sf0.001 data).

    Exactness: per-stratum means in floor-milli units (non-negative, so
    floor == truncate in both engines), ATT one SIGN-SPLIT truncation
    division over bigint sums (the weighted diff can be negative —
    the CUPED idiom); output carries the per-stratum table AND
    the scalar ATT. Scale shape: two user-keyed hash-aggs (pre and
    post) + one join, then a 5-row stratum table."""

    events = read_events(spark, sf_dir)
    cut = F.lit(ATT_CUT).cast("timestamp_ntz")
    pre = (
        events.where(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pre"),
            (
                F.sum(
                    (F.col("event_type") == "error").cast("long")
                )
                >= ATT_ERR_MIN
            ).alias("treated"),
        )
    )
    post = (
        events.where(F.col("ts") >= cut)
        .groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    units = pre.join(post, "user_id", "left").select(
        F.expr(_ATT_STRATUM).alias("stratum"),
        "treated",
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    cells = units.groupBy("stratum").agg(
        F.sum(F.col("treated").cast("long")).cast("long").alias("n_t"),
        F.sum((~F.col("treated")).cast("long")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("treated"), F.col("y")).otherwise(0))
        .cast("long")
        .alias("y_t"),
        F.sum(F.when(~F.col("treated"), F.col("y")).otherwise(0))
        .cast("long")
        .alias("y_c"),
    )
    scored = cells.select(
        "stratum",
        "n_t",
        "n_c",
        "y_t",
        "y_c",
        ((F.col("n_t") > 0) & (F.col("n_c") > 0)).alias("on_support"),
        F.expr(
            "CASE WHEN n_t > 0 AND n_c > 0 "
            "THEN y_t * 1000 div n_t - y_c * 1000 div n_c "
            "ELSE NULL END"
        ).cast("long").alias("diff_milli"),
    )
    att = scored.agg(
        F.expr(
            "coalesce(sum(CASE WHEN on_support THEN n_t * diff_milli "
            "END), 0)"
        ).alias("num"),
        F.expr(
            "greatest(coalesce(sum(CASE WHEN on_support THEN n_t END), "
            "0), 1)"
        ).alias("den"),
    ).select(
        F.expr(
            "CAST(CASE WHEN num >= 0 THEN num div den "
            "ELSE -((-num) div den) END AS BIGINT)"
        ).alias("att_milli")
    )
    return scored.crossJoin(F.broadcast(att)).select(
        F.col("stratum").cast("int"),
        F.col("n_t").alias("n_treated"),
        F.col("n_c").alias("n_control"),
        F.col("y_t").alias("y_treated"),
        F.col("y_c").alias("y_control"),
        "diff_milli",
        "on_support",
        "att_milli",
    )


q_propensity_stratified_att.__doc__ = (
    q_propensity_stratified_att.__doc__.format(E=ATT_ERR_MIN, CUT=ATT_CUT)
)


# ----------------------------- iterative proportional fitting (raking)

IPF_CUT = "1998-01-01"   # reference window < cut; current window >= cut
IPF_ROUNDS = 8
IPF_MU = 1_000_000       # weights in micro-units


def _ipf_rounds_sql() -> str:
    steps = []
    prev = "w0"
    for r in range(1, IPF_ROUNDS + 1):
        steps.append(f"""
wr{r} AS MATERIALIZED (
    SELECT w.p, w.s,
           CAST(CASE WHEN rs.t > 0 THEN w.w * rt.t // rs.t
                     ELSE 0 END AS BIGINT) AS w
    FROM {prev} w
    JOIN (SELECT p, CAST(sum(w) AS BIGINT) AS t FROM {prev} GROUP BY 1)
         rs ON rs.p = w.p
    JOIN rowt rt ON rt.p = w.p
),
w{r} AS MATERIALIZED (
    SELECT w.p, w.s,
           CAST(CASE WHEN cs.t > 0 THEN w.w * ct.t // cs.t
                     ELSE 0 END AS BIGINT) AS w
    FROM wr{r} w
    JOIN (SELECT s, CAST(sum(w) AS BIGINT) AS t FROM wr{r} GROUP BY 1)
         cs ON cs.s = w.s
    JOIN colt ct ON ct.s = w.s
)""")
        prev = f"w{r}"
    return ",".join(steps), prev


def _ipf_oracle() -> str:
    steps, last = _ipf_rounds_sql()
    return f"""
WITH j AS (
    SELECT o.o_orderpriority AS p, c.c_mktsegment AS s, o.o_orderdate AS d
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
cur AS (
    SELECT p, s, CAST(count(*) AS BIGINT) AS n FROM j
    WHERE d >= CAST('{IPF_CUT}' AS TIMESTAMP) GROUP BY 1, 2
),
ref AS (
    SELECT p, s, CAST(count(*) AS BIGINT) AS n FROM j
    WHERE d < CAST('{IPF_CUT}' AS TIMESTAMP) GROUP BY 1, 2
),
rowt AS (SELECT p, CAST(sum(n) * {IPF_MU} AS BIGINT) AS t
         FROM ref GROUP BY 1),
colt AS (SELECT s, CAST(sum(n) * {IPF_MU} AS BIGINT) AS t
         FROM ref GROUP BY 1),
w0 AS (SELECT p, s, CAST(n * {IPF_MU} AS BIGINT) AS w FROM cur),
{steps},
final AS (
    SELECT f.p, f.s, c.n, f.w,
           rm.t AS row_target, rf.a AS row_achieved,
           cm.t AS col_target, cf.a AS col_achieved
    FROM {last} f
    JOIN cur c ON c.p = f.p AND c.s = f.s
    JOIN rowt rm ON rm.p = f.p
    JOIN colt cm ON cm.s = f.s
    JOIN (SELECT p, CAST(sum(w) AS BIGINT) AS a FROM {last} GROUP BY 1)
         rf ON rf.p = f.p
    JOIN (SELECT s, CAST(sum(w) AS BIGINT) AS a FROM {last} GROUP BY 1)
         cf ON cf.s = f.s
)
SELECT p AS priority, s AS segment, n AS n_current,
       CAST(w AS BIGINT) AS w_micro,
       CAST(abs(row_achieved - row_target) * 1000000
            // greatest(row_target, 1) AS BIGINT) AS row_dev_ppm,
       CAST(abs(col_achieved - col_target) * 1000000
            // greatest(col_target, 1) AS BIGINT) AS col_dev_ppm
FROM final
"""


@query("ipf_margin_raking", oracle=_ipf_oracle())
def q_ipf_margin_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (Deming-Stephan raking): reweight
    the CURRENT window's (priority x segment) order counts so both
    margins match the REFERENCE window's — the survey-calibration /
    drift-correction operator (reweight recent traffic to the mix the
    model was trained on), and the classical dual of
    `source_mixture_weights`' single-margin scaling. {K} alternating
    row/column scaling rounds in integer micro-units with floor
    division (the markov/Holt recurrence discipline); per-cell final
    weights plus achieved-vs-target margin deviations in ppm.

    Scale shape: the fact scan reduces to the bounded (5 x 5) joint
    table + two margin tables in one pass; the solve iterates on the
    COLLECTED 25-row table (the Fellegi-Sunter bounded-collect
    contract — Python ints never overflow; the oracle's unrolled-CTE
    bigint mirror is exact up to ~3e6 reference rows per margin cell x
    1e6 micro-units, documented bound far beyond the test SFs)."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    j = (
        spark.table("orders")
        .join(
            spark.table("customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("o_orderpriority").alias("p"),
            F.col("c_mktsegment").alias("s"),
            F.col("o_orderdate").alias("d"),
        )
    )
    cut = F.lit(IPF_CUT).cast("timestamp_ntz")
    cur = (
        j.where(F.col("d") >= cut)
        .groupBy("p", "s")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ref = (
        j.where(F.col("d") < cut)
        .groupBy("p", "s")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cur_rows = cur.collect()       # bounded: |priorities| x |segments|
    ref_rows = ref.collect()
    rowt = {}
    colt = {}
    for r in ref_rows:
        rowt[r["p"]] = rowt.get(r["p"], 0) + r["n"] * IPF_MU
        colt[r["s"]] = colt.get(r["s"], 0) + r["n"] * IPF_MU
    w = {(r["p"], r["s"]): r["n"] * IPF_MU for r in cur_rows}
    n_cur = {(r["p"], r["s"]): r["n"] for r in cur_rows}
    for _ in range(IPF_ROUNDS):
        rs: dict = {}
        for (p, s), v in w.items():
            rs[p] = rs.get(p, 0) + v
        w = {
            (p, s): (v * rowt.get(p, 0) // rs[p]) if rs[p] > 0 else 0
            for (p, s), v in w.items()
        }
        cs: dict = {}
        for (p, s), v in w.items():
            cs[s] = cs.get(s, 0) + v
        w = {
            (p, s): (v * colt.get(s, 0) // cs[s]) if cs[s] > 0 else 0
            for (p, s), v in w.items()
        }
    ra: dict = {}
    ca: dict = {}
    for (p, s), v in w.items():
        ra[p] = ra.get(p, 0) + v
        ca[s] = ca.get(s, 0) + v
    out = [
        (
            p,
            s,
            n_cur[(p, s)],
            w[(p, s)],
            abs(ra[p] - rowt.get(p, 0)) * 1_000_000
            // max(rowt.get(p, 0), 1),
            abs(ca[s] - colt.get(s, 0)) * 1_000_000
            // max(colt.get(s, 0), 1),
        )
        for (p, s) in w
    ]
    return spark.createDataFrame(
        out,
        schema=(
            "priority string, segment string, n_current long,"
            " w_micro long, row_dev_ppm long, col_dev_ppm long"
        ),
    )


q_ipf_margin_raking.__doc__ = q_ipf_margin_raking.__doc__.format(
    K=IPF_ROUNDS
)
